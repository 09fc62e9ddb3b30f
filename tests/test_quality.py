"""Trained quality classifier (operators/quality.py): descent and
accuracy invariants for training (float-sum order makes trained
weights bit-unstable by nature, so the t34 gate pins the SCORER on
fixed weights and these tests certify the trainer), NULL handling,
and the curate_corpus stage."""

import math

import pytest
from pyspark.sql import functions as F

from polaroam_spark.operators.quality import (
    hashed_gram_buckets,
    score_quality_classifier,
    train_quality_classifier,
)

GOOD = [
    "the quick brown fox jumps over the lazy dog",
    "a well written paragraph about science and history",
    "clear prose with varied vocabulary and careful structure",
]
BAD = [
    "click here buy now free offer click here win big",
    "spam spam cheap pills buy buy buy now now now",
    "free free free click subscribe now offer offer offer",
]


@pytest.fixture(scope="module")
def labeled(spark):
    rows = []
    for i in range(40):
        rows.append((i, GOOD[i % 3] + f" filler {i % 7}", 1))
        rows.append((1000 + i, BAD[i % 3] + f" junk {i % 7}", 0))
    return spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    ).cache()


@pytest.fixture(scope="module")
def model(labeled):
    return train_quality_classifier(
        labeled, n_iter=50, num_buckets=1024, learning_rate=10.0
    )


def test_training_descends_and_separates(labeled, model):
    """Full-batch GD on a linearly separable corpus: the log-loss
    must fall from the ln(2) start and end near zero, and the
    trained scorer must reach 100% train accuracy."""
    losses = model["loss_history"]
    assert len(losses) == 50
    assert abs(losses[0] - math.log(2)) < 0.05  # w=0 start
    assert losses[-1] < 0.2
    # overall descent plus no catastrophic oscillation
    assert losses[-1] < losses[0] / 4
    assert all(
        b < a * 1.05 for a, b in zip(losses, losses[1:])
    )
    scored = score_quality_classifier(labeled, model)
    n = scored.count()
    correct = scored.filter(
        F.col("quality_label").cast("int") == F.col("label")
    ).count()
    assert correct == n
    assert model["n_rows"] == n and model["n_dropped"] == 0


def test_training_is_repeatable(labeled, model):
    """Same data, same partitioning, same session → the descent is
    reproducible to float tolerance."""
    again = train_quality_classifier(
        labeled, n_iter=50, num_buckets=1024, learning_rate=10.0
    )
    assert again["bias"] == pytest.approx(model["bias"], abs=1e-9)
    for a, b in zip(again["weights"], model["weights"]):
        assert a == pytest.approx(b, abs=1e-9)


def test_scorer_matches_driver_replay(labeled, model, spark):
    """The distributed margin equals a driver-side replay of
    bias + Σ w[bucket] over the same bucket stream."""
    rows = labeled.select(
        "doc_id",
        hashed_gram_buckets(
            "text", model["num_buckets"], model["seed"]
        ).alias("bk"),
    ).collect()
    got = {
        r.doc_id: r.quality_prob
        for r in score_quality_classifier(
            labeled, model, label_col=None
        ).collect()
    }
    w = model["weights"]
    for r in rows:
        s = sum(w[b] for b in r.bk)
        if model["normalize"]:
            s /= len(r.bk)
        m = model["bias"] + s
        p = 1.0 / (1.0 + math.exp(-m))
        assert got[r.doc_id] == pytest.approx(p, abs=1e-12)


def test_null_and_empty_text_score_null(spark, model):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "words here")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.quality_prob, r.quality_label)
        for r in score_quality_classifier(df, model).collect()
    }
    assert out[1] == (None, None)
    assert out[2] == (None, None)
    assert out[3] == (None, None)
    assert out[4][0] is not None and out[4][1] is not None


def test_training_validation(spark, labeled):
    bad_label = spark.createDataFrame(
        [(1, "some text", 2)], "doc_id long, text string, label int"
    )
    with pytest.raises(ValueError, match="labels must be 0/1"):
        train_quality_classifier(bad_label, n_iter=1, num_buckets=64)
    empty = spark.createDataFrame(
        [(1, None, None)], "doc_id long, text string, label int"
    )
    with pytest.raises(ValueError, match="no usable rows"):
        train_quality_classifier(empty, n_iter=1, num_buckets=64)
    with pytest.raises(ValueError, match="weights length"):
        score_quality_classifier(
            labeled, {"weights": [0.0], "num_buckets": 2}
        )
    # NULL-label rows are dropped and counted, not trained on
    mixed = labeled.union(
        spark.createDataFrame(
            [(5000, "unlabeled text", None)],
            "doc_id long, text string, label int",
        )
    )
    m = train_quality_classifier(
        mixed, n_iter=2, num_buckets=256, learning_rate=1.0
    )
    assert m["n_dropped"] == 1


def test_curate_corpus_classifier_stage(labeled, model):
    """The ladder's classifier gate keeps exactly the rows the
    scorer passes, and reports the stage count."""
    from polaroam_spark.operators.curation import curate_corpus

    kept, stats = curate_corpus(
        labeled.select("doc_id", "text"),
        dedup=None,
        classifier_model=model,
        classifier_threshold=0.5,
    )
    want = {
        r.doc_id
        for r in score_quality_classifier(labeled, model)
        .filter(F.col("quality_prob") >= 0.5)
        .collect()
    }
    got = {r.doc_id for r in kept.collect()}
    assert got == want and 0 < len(got) < labeled.count()
    srows = {r.stage: r.n_docs for r in stats.collect()}
    assert srows["classifier"] == len(got)


def test_evaluate_classifier_exact_small(spark):
    """Hand-computed confusion + AUC on a 6-row frame (scores
    bin-aligned, so binned AUC is the exact Mann-Whitney value,
    ties included)."""
    from polaroam_spark.operators.quality import evaluate_classifier

    rows = [
        (1, 1, 0.9),   # tp
        (2, 1, 0.7),   # tp
        (3, 1, 0.3),   # fn
        (4, 0, 0.7),   # fp (tied score with doc 2)
        (5, 0, 0.2),   # tn
        (6, 0, 0.1),   # tn
        (7, None, 0.5),  # skipped: NULL label
        (8, 1, None),    # skipped: NULL score
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, label int, quality_prob double"
    )
    ev = evaluate_classifier(df).collect()[0]
    assert (ev.n_total, ev.n, ev.n_skipped) == (8, 6, 2)
    assert (ev.tp, ev.fp, ev.fn, ev.tn) == (2, 1, 1, 2)
    assert ev.accuracy == pytest.approx(4 / 6)
    assert ev.precision == pytest.approx(2 / 3)
    assert ev.recall == pytest.approx(2 / 3)
    assert ev.f1 == pytest.approx(2 / 3)
    # ranks asc by score: 0.1->1, 0.2->2, 0.3->3, 0.7 tie->4.5, 0.9->6
    # U = (3 + 4.5 + 6) - 3*4/2 = 7.5 ; AUC = 7.5 / (3*3)
    assert ev.auc == pytest.approx(7.5 / 9)


def test_evaluate_classifier_degenerate_and_trained(spark, labeled, model):
    from polaroam_spark.operators.quality import evaluate_classifier

    # all-one-class: class-conditional ratios are NULL, not 0/0
    pos_only = spark.createDataFrame(
        [(1, 1, 0.9), (2, 1, 0.2)],
        "doc_id long, label int, quality_prob double",
    )
    ev = evaluate_classifier(pos_only).collect()[0]
    assert ev.n_neg == 0 and ev.auc is None and ev.precision == 1.0

    # the trained separable model scores a perfect artifact
    scored = score_quality_classifier(labeled, model, label_col=None)
    ev = evaluate_classifier(scored).collect()[0]
    assert ev.accuracy == 1.0 and ev.auc == 1.0 and ev.f1 == 1.0
    with pytest.raises(ValueError, match="auc_bins"):
        evaluate_classifier(scored, auc_bins=0)


def test_trainer_differential_vs_pyspark_ml(labeled, model, spark):
    """Independent-implementation differential: pyspark.ml's
    LogisticRegression (LBFGS) fit on the IDENTICAL hashed mean
    features must agree with our GD-trained model on every
    prediction over the separable corpus (both reach the same
    decision boundary side; coefficients differ — regularization
    paths differ — but the labels are the certification)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql import types as T

    B = model["num_buckets"]

    rows = labeled.select(
        "doc_id",
        "label",
        hashed_gram_buckets("text", B, model["seed"]).alias("bk"),
    ).collect()

    def to_vec(bk):
        from collections import Counter

        c = Counter(bk)
        n = len(bk)
        idx = sorted(c)
        return Vectors.sparse(B, idx, [c[i] / n for i in idx])

    ml_df = spark.createDataFrame(
        [(r.doc_id, float(r.label), to_vec(r.bk)) for r in rows],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("label", T.DoubleType()),
                T.StructField("features", VectorUDT()),
            ]
        ),
    )
    lr = LogisticRegression(
        maxIter=100, regParam=1e-6, standardization=False
    )
    fitted = lr.fit(ml_df)
    ml_pred = {
        r.doc_id: int(r.prediction)
        for r in fitted.transform(ml_df).collect()
    }
    ours = {
        r.doc_id: int(r.quality_label)
        for r in score_quality_classifier(labeled, model).collect()
    }
    assert ml_pred == ours


def test_calibration_curve_hand_computed(spark):
    from polaroam_spark.operators.quality import calibration_curve

    rows = [
        (1, 1, 0.95), (2, 0, 0.92),        # bin 9: mean .935, pos .5
        (3, 1, 0.15), (4, 0, 0.11), (5, 0, 0.13),  # bin 1
        (6, 1, 1.0),                        # s=1.0 clamps into bin 9
        (7, None, 0.4), (8, 1, None),       # skipped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, label int, quality_prob double"
    )
    out = {r.bin: r for r in calibration_curve(df).collect()}
    assert set(out) == {1, 9}
    b9 = out[9]
    assert b9.n == 3
    assert b9.mean_score == pytest.approx((0.95 + 0.92 + 1.0) / 3)
    assert b9.frac_pos == pytest.approx(2 / 3)
    assert b9.abs_gap == pytest.approx(abs(b9.mean_score - b9.frac_pos))
    b1 = out[1]
    assert b1.n == 3 and b1.frac_pos == pytest.approx(1 / 3)
    # ECE folds in one pass over the bins
    n_tot = sum(r.n for r in out.values())
    ece = sum(r.n / n_tot * r.abs_gap for r in out.values())
    assert 0.0 <= ece <= 1.0
    with pytest.raises(ValueError, match="bins"):
        calibration_curve(df, bins=0)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_eval_and_calibration_match_numpy_replay(spark, seed):
    """Random labeled/scored frames: the distributed metrics equal a
    pure-numpy replay (tie-corrected AUC via scipy-free average
    ranks over the same bins, confusion cells, per-bin means)."""
    import random

    import numpy as np

    from polaroam_spark.operators.quality import (
        calibration_curve,
        evaluate_classifier,
    )

    rng = random.Random(seed)
    rows = []
    for i in range(200):
        # quantized scores force real ties across the frame
        s = round(rng.random(), 2)
        rows.append((i, rng.randint(0, 1), s))
    df = spark.createDataFrame(
        rows, "doc_id long, label int, quality_prob double"
    )
    ev = evaluate_classifier(df, auc_bins=100).collect()[0]

    y = np.array([r[1] for r in rows], dtype=float)
    s = np.array([r[2] for r in rows], dtype=float)
    pred = s >= 0.5
    assert ev.tp == int(((y == 1) & pred).sum())
    assert ev.fp == int(((y == 0) & pred).sum())
    assert ev.fn == int(((y == 1) & ~pred).sum())
    assert ev.tn == int(((y == 0) & ~pred).sum())
    # average-rank AUC over the same 100 bins
    bins = np.minimum(np.floor(s * 100).astype(int), 99)
    order = np.argsort(bins, kind="stable")
    ranks = np.empty(len(s))
    pos = 0
    for b in np.unique(bins):
        grp = bins == b
        k = int(grp.sum())
        ranks[grp] = pos + (k + 1) / 2.0
        pos += k
    n_pos, n_neg = int(y.sum()), int((1 - y).sum())
    auc = (ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2.0) / (
        n_pos * n_neg
    )
    assert ev.auc == pytest.approx(auc, abs=1e-12)

    cal = {r.bin: r for r in calibration_curve(df, bins=10).collect()}
    cbins = np.minimum(np.floor(s * 10).astype(int), 9)
    for b in np.unique(cbins):
        grp = cbins == b
        assert cal[int(b)].n == int(grp.sum())
        assert cal[int(b)].mean_score == pytest.approx(s[grp].mean())
        assert cal[int(b)].frac_pos == pytest.approx(y[grp].mean())


def test_eval_skips_out_of_domain_labels_and_clamps_bins(spark):
    from polaroam_spark.operators.quality import (
        calibration_curve,
        evaluate_classifier,
    )

    rows = [
        (1, 1, 0.9), (2, 0, 0.2),
        (3, 2, 0.5),      # out-of-domain label -> skipped
        (4, -1, 0.5),     # out-of-domain label -> skipped
        (5, 1, -0.3),     # below-range score -> clamps to bin 0
        (6, 0, 1.7),      # above-range score -> clamps to top bin
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, label int, quality_prob double"
    )
    ev = evaluate_classifier(df).collect()[0]
    assert ev.n == 4 and ev.n_skipped == 2
    assert ev.tp + ev.fp + ev.fn + ev.tn == 4
    cal = {r.bin: r for r in calibration_curve(df).collect()}
    assert min(cal) == 0 and max(cal) == 9


def test_eval_and_calibration_skip_nan_scores(spark):
    """A NaN score is unusable, not a predicted-positive: Spark's NaN
    ordering evaluates NaN >= threshold as true, so without an
    explicit isnan() guard NaN rows inflate tp/fp and poison a
    calibration bin's mean_score (ADVICE r14)."""
    from polaroam_spark.operators.quality import (
        calibration_curve,
        evaluate_classifier,
    )

    rows = [
        (1, 1, 0.9),
        (2, 0, 0.2),
        (3, 0, float("nan")),  # would count as fp under NaN ordering
        (4, 1, float("nan")),
        (5, None, 0.4),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, label int, quality_prob double"
    )
    ev = evaluate_classifier(df).collect()[0]
    assert ev.n == 2 and ev.n_skipped == 3
    assert ev.tp == 1 and ev.fp == 0 and ev.tn == 1 and ev.fn == 0
    cal = calibration_curve(df).collect()
    assert all(r.mean_score == r.mean_score for r in cal)  # no NaN
    assert sum(r.n for r in cal) == 2


@pytest.mark.slow
def test_quality_classifier_char_feature(spark):
    """feature='char' trains/scores over the char 3-5-gram stream
    (stored in the model so the scorer follows automatically);
    unknown features raise on both paths."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from polaroam_spark.operators.quality import (
        score_quality_classifier,
        train_quality_classifier,
    )

    rows = [
        (i, "clean prose reads naturally here " * 3, 1)
        for i in range(10)
    ] + [
        (100 + i, "buy$$$now!!! spam##casino@@@win " * 3, 0)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, label int"
    )
    m = train_quality_classifier(
        df, n_iter=40, learning_rate=5.0, num_buckets=512,
        feature="char",
    )
    assert m["feature"] == "char"
    scored = score_quality_classifier(df, m, label_col=None)
    acc = (
        scored.filter(
            ((F.col("quality_prob") >= 0.5) & (F.col("label") == 1))
            | ((F.col("quality_prob") < 0.5) & (F.col("label") == 0))
        ).count()
    )
    assert acc == 20
    with _pytest.raises(ValueError, match="feature"):
        train_quality_classifier(df, n_iter=1, feature="byte")
    bad = dict(m)
    bad["feature"] = "byte"
    with _pytest.raises(ValueError, match="feature"):
        score_quality_classifier(df, bad)
