"""Trained multiclass language identification — the fasttext-style
langid slot (Joulin et al. 2017, "Bag of Tricks for Efficient Text
Classification") every published curation pipeline (CCNet, RedPajama,
Dolma) fills with a trained model rather than a stopword heuristic.
This is the K-class softmax extension of
:mod:`~polaroam_spark.operators.quality`'s hashed-gram logistic
regression: same feature stream
(:func:`~polaroam_spark.operators.quality.hashed_gram_buckets`, the
DSIR unigram+bigram bucket hash, or the char 3–5-gram stream), K
weight vectors instead of one.

Both scale shapes are the linear-model core in
:mod:`~polaroam_spark.operators.quality` (see its docstring): scoring
is one map-only Arrow UDF stage returning the K margins per row
(``_with_margins``), training is the shared persisted featurization
and full-batch descent (``_featurize``, ``_descend``). This module
adds only the K-class parts: the bounded class collect
(``max_classes``), the softmax residual and cross-entropy, and at
scoring time the argmax with the first-class tie rule and the
winner's softmax probability — JVM array expressions over the
margins, so the router runs unchanged on readStream.

Beyond-reference component (reference is a mobility engine, ref core
polaroam/*.py — no text surface); closes the "trained multiclass
langid" gap called out in the r14 review. The heuristic counterpart
is :func:`~polaroam_spark.operators.textstats.detect_language`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polaroam_spark.operators.quality import (
    _check_feature,
    _descend,
    _featurize,
    _fit_args,
    _with_margins,
)


def _validate_langid_model(model: dict) -> tuple:
    import numpy as np

    classes = [str(c) for c in model["classes"]]
    k = len(classes)
    if k < 2:
        raise ValueError(f"need >= 2 classes (got {k})")
    if len(set(classes)) != k:
        raise ValueError("duplicate class labels in model")
    b = int(model["num_buckets"])
    w = model["weights"]
    if len(w) != k:
        raise ValueError(
            f"model has {len(w)} weight vectors for {k} classes"
        )
    for i, row in enumerate(w):
        if len(row) != b:
            raise ValueError(
                f"weights[{i}] length {len(row)} != num_buckets {b}"
            )
    biases = [float(x) for x in model.get("biases", [0.0] * k)]
    if len(biases) != k:
        raise ValueError(
            f"model has {len(biases)} biases for {k} classes"
        )
    return (
        classes,
        np.asarray(
            [[float(x) for x in row] for row in w], dtype=np.float64
        ).reshape(k, b),
        biases,
        int(model.get("seed", 17)),
        bool(model.get("portable", False)),
        bool(model.get("normalize", True)),
        _check_feature(str(model.get("feature", "word"))),
    )


def score_langid(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "language_pred",
    prob_col: "str | None" = "language_prob",
) -> DataFrame:
    """Append the predicted language (argmax class of ``softmax(b_k +
    Σ w_k[bucket(gram)])`` over the document's unigram+bigram
    instances; models with ``"normalize": True`` — the training
    default, and the reading of a hand-built model without the key —
    use MEAN features) and, when ``prob_col`` is set, the winner's
    softmax probability. NULL/empty-gram documents get NULL
    prediction and probability (no evidence — same contract as the
    quality scorer and DSIR). Ties go to the first class in
    ``model["classes"]`` order (deterministic).

    ``model`` is :func:`train_langid`'s dict (or any hand-built
    ``{"classes": [...], "weights": [[...], ...], "biases": [...],
    "num_buckets": B, "seed": s, "portable": p, "feature":
    "word"|"char"}`` — ``"char"`` scores over fasttext's char
    3–5-gram stream, the robust choice for short / no-whitespace
    text). All K margins come from one map-only Arrow UDF stage at
    every K·B (module docstring), one output row per input row."""
    classes, w2d, biases, seed, portable, normalize, feature = (
        _validate_langid_model(model)
    )
    out, m_c, tmp = _with_margins(
        df, text_col, w2d, biases, seed, portable, normalize, feature,
        reserved=(out_col, prob_col),
    )
    margins = F.col(m_c)
    classes_lit = F.array(*[F.lit(c) for c in classes])
    mx = F.array_max(margins)
    # the isNotNull guard is load-bearing: codegen'd element_at over
    # a literal array does NOT propagate a NULL array_position result
    # (observed returning the last class for NULL-margin rows on
    # Spark 4.1) — the CASE branch short-circuits before element_at
    pred = F.when(
        margins.isNotNull(),
        F.element_at(
            classes_lit,
            F.array_position(margins, mx).cast("int"),
        ),
    )
    out = out.withColumn(out_col, pred)
    if prob_col is not None:
        denom = F.aggregate(
            F.transform(margins, lambda m: F.exp(m - mx)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out.withColumn(prob_col, F.lit(1.0) / denom)
    return out.drop(*tmp)


def _softmax_residual(m, y):
    """K-class link of the shared descent: stable softmax, clamped
    log-likelihood of the true class, residual ``p − onehot(y)``."""
    import numpy as np

    y = np.asarray(y, dtype=np.int64)
    m = m - m.max(axis=0, keepdims=True)
    e = np.exp(m)
    p = e / e.sum(axis=0, keepdims=True)
    rows = np.arange(len(y))
    ll = np.log(np.maximum(p[y, rows], 1e-300)).sum()
    p[y, rows] -= 1.0
    return p, ll


def train_langid(
    df: DataFrame,
    label_col: str = "language",
    text_col: str = "text",
    num_buckets: int = 2048,
    seed: int = 17,
    portable: bool = False,
    n_iter: int = 30,
    learning_rate: float = 5.0,
    l2: float = 1e-6,
    normalize: bool = True,
    max_classes: int = 256,
    feature: str = "word",
) -> dict:
    """Fit the K-class softmax regression by full-batch gradient
    descent: featurize ONCE into a persisted ``(class_idx, buckets)``
    projection, then per iteration one map-side pass computes
    partition-partial gradients against the broadcast current weights
    and the driver applies the update. Class labels are taken AS
    DISTINCT STRINGS of ``label_col`` (sorted, so class order — and
    tie-breaking at scoring time — is deterministic); rows with a
    NULL label or no grams are dropped and counted. Returns the model
    dict for :func:`score_langid` plus ``loss_history`` (mean
    cross-entropy per iteration, starting from ln K at zero weights)
    and ``n_rows``/``n_dropped``. ``feature="char"`` trains on the
    char 3–5-gram stream instead of word unigram+bigrams (stored in
    the model, so the scorer follows automatically).

    ``normalize=True`` (default) uses MEAN features — same rationale
    as the binary trainer (raw counts scale the gradient's Lipschitz
    constant with document length squared). ``max_classes`` bounds
    the label collect (the model is K·B doubles; an unbounded label
    space would make both the collect and the model corpus-sized).

    Determinism: same contract as the binary trainer — float sums
    over partition partials, so exactness gates pin the SCORER on
    fixed weights while training is certified by descent/accuracy
    invariants."""
    b, iters = _fit_args(num_buckets, n_iter)
    lbl = F.col(label_col).cast("string")
    classes = sorted(
        r[0]
        for r in df.select(lbl.alias("_c"))
        .filter(F.col("_c").isNotNull())
        .distinct()
        .limit(int(max_classes) + 1)
        .collect()
    )
    if len(classes) > int(max_classes):
        raise ValueError(
            f"more than max_classes={max_classes} distinct labels — "
            "langid models are dense K x B; cap or bucket the label "
            "space first"
        )
    if len(classes) < 2:
        raise ValueError(
            f"need >= 2 distinct classes (got {classes!r})"
        )
    k = len(classes)
    # every non-NULL label is a class, so only NULL labels map to NULL
    y = (
        F.array_position(F.array(*[F.lit(c) for c in classes]), lbl) - 1
    ).cast("int")
    with _featurize(
        df, y, text_col, b, seed, portable, feature, "train_langid"
    ) as (feats, n, total):
        w, biases, losses = _descend(
            feats, n, k, b, iters, float(learning_rate), float(l2),
            bool(normalize), _softmax_residual,
        )
    return {
        "classes": classes,
        "weights": [row.tolist() for row in w],
        "biases": biases.tolist(),
        "num_buckets": b,
        "seed": int(seed),
        "portable": bool(portable),
        "normalize": bool(normalize),
        "feature": str(feature),
        "loss_history": losses,
        "n_rows": n,
        "n_dropped": total - n,
    }
