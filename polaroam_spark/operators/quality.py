"""Trained quality classifier — the GPT-3/CCNet-style discriminative
filter (Brown et al. 2020 §A; Wenzek et al. 2020): logistic
regression over hashed n-gram features, trained on a labeled seed
corpus (curated positives vs raw negatives) and applied as a
map-side scorer over the full corpus. This is the one standard
LLM-curation filter the rule-based (gopher/c4), LM-based
(unigram/bigram logprob) and DSIR scorers don't cover: a TRAINED
decision boundary the curator controls with labels.

Feature space: DSIR's hashed unigram+bigram stream
(:func:`~polaroam_spark.operators.textstats._dsir_grams_of`) bucketed
into ``num_buckets`` — the same dimensionality-reduction property
that makes DSIR 100 TB-safe makes the classifier so: the model is a
fixed B-vector of weights, never an open vocabulary.

This module also holds the one core of every hashed-gram linear
model — this binary classifier and the K-class softmax of
:mod:`~polaroam_spark.operators.langid` (K = 1 here). A family adds
only its link: sigmoid, threshold and label here; class list,
argmax and softmax probability there.

- Scoring (:func:`_with_margins`): one projection adds the gram
  base, the bucket array and the margin column under collision-safe
  names, and one Arrow UDF (:func:`_margin_kernel`) computes all K
  margins per row — a numpy gather plus ``add.reduceat`` segment sum
  over the broadcast K×B weights, NULL for rows without grams.
  Map-only at every K·B: no shuffle, no join, no id precondition,
  and it runs unchanged on readStream. Needs PySpark ≥ 4.1
  (``arrow_udf``).
- Training (:func:`_featurize`, :func:`_descend`): full-batch
  gradient descent. The ``(label, buckets)`` projection is persisted
  once, one aggregate counts its usable rows, and each iteration is
  ONE map-side ``mapInArrow`` pass of per-partition (∇W, ∇b, loss)
  partials summed on the driver (the treeAggregate shape of every
  distributed LR, incl. pyspark.ml's). The batch kernel shares the
  margin gather and the ``bincount`` gradient scatter; only the
  residual/loss differs per family. The cache is released before
  the trainer returns, also when it raises.

Beyond-reference component (the reference is a mobility engine, ref
core polaroam/*.py — no text surface); part of the LLM-pipeline
brief's text-analysis family.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gram_bucket_base(
    text_col: "Column | str", feature: str = "word"
) -> Column:
    """The feature stream's shared base expression — the tokenized
    word array (``feature="word"``) or the normalized string
    (``"char"``). Project it into its OWN column in a select below
    the scoring projection and hand the column reference to
    :func:`hashed_gram_buckets` via ``base=``: the gram stream
    references its base several times, and an inline base re-runs
    the lower/split/trim chain per reference (higher-order lambdas
    are CodegenFallback — no common-subexpression elimination;
    measured 35-40%% of the bucket-stream cost, r19 optimization
    round). CollapseProject keeps the lower projection because the
    alias is non-cheap and multiply referenced."""
    from polaroam_spark.operators.textstats import (
        _char_norm,
    )
    from polaroam_spark.functions.text import tokens

    if feature == "word":
        return tokens(text_col)
    if feature == "char":
        return _char_norm(text_col)
    raise ValueError(
        f"feature must be 'word' or 'char' (got {feature!r})"
    )


def hashed_gram_buckets(
    text_col: "Column | str",
    num_buckets: int,
    seed: int = 17,
    portable: bool = False,
    feature: str = "word",
    base: "Column | None" = None,
) -> Column:
    """``array<int>`` of feature-bucket indices, one per gram
    instance. ``feature="word"`` (default) is DSIR's stream (word
    unigrams + bigrams); ``feature="char"`` is fasttext-langid's
    char 3–5-gram stream — robust on short / no-whitespace text
    where word features collapse to one unique token per document.
    ``portable`` swaps xxhash64 for the md5-based portable hash so a
    DuckDB oracle can replay bucket membership bit-for-bit; xxhash64
    is the scale default (~10x cheaper). ``base`` takes a
    pre-projected :func:`gram_bucket_base` column and skips the
    inline base computation (see there); ``text_col`` is ignored
    when it is given."""
    from polaroam_spark.functions.text import (
        fast_hash64,
        portable_hash64,
    )
    from polaroam_spark.operators.textstats import (
        _char_grams_of,
        _dsir_grams_of,
    )

    b = int(num_buckets)
    if b < 1:
        raise ValueError(f"num_buckets must be >= 1 (got {num_buckets})")
    if base is None:
        base = gram_bucket_base(text_col, feature)
    elif feature not in ("word", "char"):
        raise ValueError(
            f"feature must be 'word' or 'char' (got {feature!r})"
        )
    if feature == "word":
        grams = _dsir_grams_of(base)
    else:
        grams = _char_grams_of(base)
    hash_fn = portable_hash64 if portable else fast_hash64
    return F.transform(
        grams,
        lambda g: F.pmod(hash_fn(g, seed), F.lit(b)).cast("int"),
    )


def _segments(bk):
    """(flattened int64 bucket ids, segment starts, per-row counts)
    of an Arrow list<int> column — zero-copy off the Arrow buffers,
    no per-row Python. NULL rows count 0. A sliced ListArray's values
    buffer can extend beyond the slice, hence the offset window."""
    import numpy as np

    offs = np.asarray(bk.offsets, dtype=np.int64)
    vals = np.asarray(bk.values)
    idx = vals[offs[0] : offs[-1]].astype(np.int64, copy=False)
    starts = offs[:-1] - offs[0]
    counts = np.diff(offs)
    if bk.null_count:
        counts = np.where(np.asarray(bk.is_valid()), counts, 0)
    return idx, starts, counts


def _segment_sums(w2d, idx, starts, counts):
    """(K, n_rows) per-row sums of ``w[bucket]`` for each weight row
    of ``w2d``: one gather and one ``np.add.reduceat`` per class, so
    the extra memory is one n_grams vector, never K × n_grams. Rows
    with no grams sum to 0; out-of-range ids (possible only in the
    unused child slots of NULL rows) read clipped, never raise."""
    import numpy as np

    k = w2d.shape[0]
    if idx.size == 0:
        return np.zeros((k, len(counts)), dtype=np.float64)
    idx = np.clip(idx, 0, w2d.shape[1] - 1)
    safe_starts = np.minimum(starts, idx.size - 1)
    empty = counts == 0
    sums = np.empty((k, len(counts)), dtype=np.float64)
    for ki in range(k):
        s = np.add.reduceat(w2d[ki][idx], safe_starts)
        s[empty] = 0.0
        sums[ki] = s
    return sums


def _margin_kernel(spark, w2d, biases, normalize: bool):
    """The Arrow UDF ``list<int> buckets → array<double>`` of the K
    margins ``b_k + Σ w_k[bucket]`` (divided by the gram count for
    mean features), NULL for rows with no grams. The K×B weights ship
    once per executor as a broadcast."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    bcw = spark.sparkContext.broadcast(w2d)
    bias = np.asarray(biases, dtype=np.float64)[:, None]
    k = w2d.shape[0]

    def _margins(bk):
        idx, starts, counts = _segments(bk)
        sums = _segment_sums(bcw.value, idx, starts, counts)
        if normalize:
            sums = sums / np.where(counts > 0, counts, 1)
        m = np.ascontiguousarray((sums + bias).T)  # (n_rows, k)
        offs = np.arange(0, (m.shape[0] + 1) * k, k, dtype=np.int32)
        return pa.ListArray.from_arrays(
            pa.array(offs, type=pa.int32()),
            pa.array(m.reshape(-1), type=pa.float64()),
            mask=pa.array(counts == 0),
        )

    # module-level `from __future__ import annotations` turns inline
    # hints into strings arrow_udf's eval-type inference cannot
    # resolve — attach real objects instead
    _margins.__annotations__ = {"bk": pa.Array, "return": pa.Array}
    return arrow_udf("array<double>")(_margins)


def _with_margins(
    df: DataFrame,
    text_col: str,
    w2d,
    biases,
    seed: int,
    portable: bool,
    normalize: bool,
    feature: str,
    reserved: "tuple[str, ...]" = (),
) -> "tuple[DataFrame, str, list[str]]":
    """The scorer projection: ``df`` plus the gram base, the bucket
    array and the K-margin array, each in its own column (the bucket
    stream references its base ~4x; inline, every reference re-runs
    the lower/split/trim chain — see :func:`gram_bucket_base`).
    Temp names avoid every input column and ``reserved`` (the
    caller's output names). Returns ``(frame, margin column, temp
    columns to drop)``."""
    taken = set(df.columns) | {c for c in reserved if c}
    tmp = []
    for name in ("_hgb_base", "_hgb_buckets", "_margins"):
        while name in taken:
            name += "_"
        taken.add(name)
        tmp.append(name)
    base_c, bk_c, m_c = tmp
    kernel = _margin_kernel(df.sparkSession, w2d, biases, normalize)
    out = (
        df.withColumn(base_c, gram_bucket_base(text_col, feature))
        .withColumn(
            bk_c,
            hashed_gram_buckets(
                text_col, w2d.shape[1], seed, portable,
                feature=feature, base=F.col(base_c),
            ),
        )
        .withColumn(m_c, kernel(F.col(bk_c)))
    )
    return out, m_c, tmp


def _check_feature(feature: str) -> str:
    if feature not in ("word", "char"):
        raise ValueError(
            f"model feature must be 'word' or 'char' (got {feature!r})"
        )
    return feature


def _validate_model(model: dict) -> tuple:
    import numpy as np

    w = model["weights"]
    b = int(model["num_buckets"])
    if len(w) != b:
        raise ValueError(
            f"model weights length {len(w)} != num_buckets {b}"
        )
    return (
        np.asarray([[float(x) for x in w]], dtype=np.float64),
        float(model.get("bias", 0.0)),
        int(model.get("seed", 17)),
        bool(model.get("portable", False)),
        bool(model.get("normalize", False)),
        _check_feature(str(model.get("feature", "word"))),
    )


def score_quality_classifier(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "quality_prob",
    label_col: "str | None" = "quality_label",
    threshold: float = 0.5,
) -> DataFrame:
    """Append the classifier probability (``sigmoid(bias + Σ
    w[bucket(gram)])`` over the document's unigram+bigram instances
    — count features, so the sum over instances IS the w·x dot
    product; models with ``"normalize": True`` divide by the
    instance count, i.e. MEAN features — the length normalization
    :func:`train_quality_classifier` uses by default, since raw
    counts make the logistic gradient's Lipschitz constant scale
    with document length squared) and, when ``label_col`` is set,
    the thresholded boolean label. NULL/empty-gram documents get
    NULL score and label (no evidence — callers decide a default, as
    with DSIR).

    ``model`` is :func:`train_quality_classifier`'s dict (or any
    hand-built ``{"weights": [...], "bias": f, "num_buckets": B,
    "seed": s, "portable": p, "normalize": n, "feature":
    "word"|"char"}``; a missing ``"normalize"`` reads as False —
    ``"char"`` scores over the char 3–5-gram stream, the langid
    feature set, when a quality model is trained on it). Scoring is
    one map-only Arrow UDF stage (module docstring), one output row
    per input row. Composes with
    :func:`~polaroam_spark.operators.textstats.calibrate_scores` /
    ``quality_stratified_filter`` downstream (the probability is a
    score column like any other)."""
    w2d, bias, seed, portable, normalize, feature = _validate_model(
        model
    )
    out, m_c, tmp = _with_margins(
        df, text_col, w2d, [bias], seed, portable, normalize, feature,
        reserved=(out_col, label_col),
    )
    out = out.withColumn(
        out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(m_c)[0]))
    ).drop(*tmp)
    if label_col is not None:
        out = out.withColumn(
            label_col, F.col(out_col) >= F.lit(float(threshold))
        )
    return out


@contextmanager
def _featurize(
    df: DataFrame,
    label: Column,
    text_col: str,
    num_buckets: int,
    seed: int,
    portable: bool,
    feature: str,
    who: str,
    bad_label: "Column | None" = None,
):
    """Persist the ``(_y, _bk)`` projection of every row of ``df``
    once and count it with ONE aggregate: total rows, usable rows
    (non-NULL label, at least one gram) and, when ``bad_label`` is
    given, the smallest usable label it flags. Yields ``(usable
    frame, usable count, total count)``; the usable frame is a
    filter over the cache, so it keeps the partitions and row order
    the descent's float sums depend on. Raises ``ValueError`` when
    no row is usable or a label is bad. The cache is released when
    the block exits, also when it raises."""
    proj = (
        df.select(
            label.alias("_y"),
            gram_bucket_base(text_col, feature).alias("_hgb_base"),
        )
        .select(
            "_y",
            hashed_gram_buckets(
                text_col, num_buckets, seed, portable,
                feature=feature, base=F.col("_hgb_base"),
            ).alias("_bk"),
        )
        .persist()
    )
    try:
        usable = F.col("_y").isNotNull() & (F.array_size("_bk") > 0)
        aggs = [F.count("*"), F.count_if(usable)]
        if bad_label is not None:
            aggs.append(F.min(F.when(usable & bad_label, F.col("_y"))))
        row = proj.agg(*aggs).first()
        total, n = int(row[0]), int(row[1])
        if n == 0:
            raise ValueError(
                f"{who}: no usable rows (every row had a NULL label "
                "or no grams)"
            )
        if bad_label is not None and row[2] is not None:
            raise ValueError(f"labels must be 0/1; found {row[2]!r}")
        yield proj.filter(usable), n, total
    finally:
        proj.unpersist()


def _descend(
    feats: DataFrame,
    n: int,
    k: int,
    num_buckets: int,
    n_iter: int,
    learning_rate: float,
    l2: float,
    normalize: bool,
    residual,
) -> tuple:
    """Full-batch gradient descent of a K-row linear model over the
    usable ``(_y, _bk)`` rows :func:`_featurize` yields. Per
    iteration, one ``mapInArrow`` pass computes per-partition partials
    of (∇W, ∇b, loss) against the current weights, the driver sums
    them in partition order and steps ``W -= lr · (∇/n + l2·W)``,
    ``b -= lr · ∇b/n``. ``residual(margins (K, rows), labels)`` is
    the family's link: it returns the (K, rows) residual
    ``∂loss/∂margin`` and the batch's summed log-likelihood. Returns
    ``(W, b, mean loss per iteration)``."""
    import numpy as np
    import pyarrow as pa

    b = int(num_buckets)
    w = np.zeros((k, b), dtype=np.float64)
    bias = np.zeros(k, dtype=np.float64)
    losses: "list[float]" = []
    schema = "grad array<double>, gbias array<double>, loss double"

    for _ in range(int(n_iter)):
        cur_w, cur_b = w.copy(), bias.copy()

        def _partial(batches):
            # vectorized batch kernel: zero-copy Arrow segments, one
            # add.reduceat segment sum per class for the margins and
            # one bincount scatter per class for the gradient — the
            # gather/scatter of a sparse matmul, no per-row Python
            g = np.zeros((k, b), dtype=np.float64)
            gb = np.zeros(k, dtype=np.float64)
            loss = 0.0
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                idx, starts, counts = _segments(batch.column("_bk"))
                scale = (
                    1.0 / counts if normalize
                    else np.ones(batch.num_rows, dtype=np.float64)
                )
                m = (
                    _segment_sums(cur_w, idx, starts, counts) * scale
                    + cur_b[:, None]
                )
                r, ll = residual(m, batch.column("_y"))
                loss -= ll
                # one shared row index per gram instead of a dense
                # (k, n_grams) repeat
                rows = np.repeat(np.arange(batch.num_rows), counts)
                rs = r * scale
                for ki in range(k):
                    g[ki] += np.bincount(
                        idx, weights=rs[ki][rows], minlength=b
                    )
                gb += r.sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([g.reshape(-1).tolist()],
                             type=pa.list_(pa.float64())),
                    pa.array([gb.tolist()], type=pa.list_(pa.float64())),
                    pa.array([loss], type=pa.float64()),
                ],
                names=["grad", "gbias", "loss"],
            )

        parts = feats.mapInArrow(_partial, schema=schema).collect()
        g = np.zeros((k, b), dtype=np.float64)
        gb = np.zeros(k, dtype=np.float64)
        loss = 0.0
        for row in parts:
            g += np.asarray(row["grad"], dtype=np.float64).reshape(k, b)
            gb += np.asarray(row["gbias"], dtype=np.float64)
            loss += row["loss"]
        w -= learning_rate * (g / n + l2 * w)
        bias -= learning_rate * (gb / n)
        losses.append(loss / n)
    return w, bias, losses


def _logistic_residual(m, y):
    """Binary link of :func:`_descend`: overflow-safe sigmoid,
    clamped log-likelihood, residual ``p − y``."""
    import numpy as np

    m = m[0]
    y = np.asarray(y, dtype=np.float64)
    t = np.exp(-np.abs(m))
    p = np.where(m >= 0, 1.0 / (1.0 + t), t / (1.0 + t))
    ll = (
        y * np.log(np.maximum(p, 1e-300))
        + (1.0 - y) * np.log(np.maximum(1.0 - p, 1e-300))
    ).sum()
    return (p - y)[None, :], ll


def _fit_args(num_buckets, n_iter) -> "tuple[int, int]":
    b, iters = int(num_buckets), int(n_iter)
    if iters < 1:
        raise ValueError(f"n_iter must be >= 1 (got {n_iter})")
    if b < 1:
        raise ValueError(f"num_buckets must be >= 1 (got {num_buckets})")
    return b, iters


def train_quality_classifier(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    num_buckets: int = 4096,
    seed: int = 17,
    portable: bool = False,
    n_iter: int = 30,
    learning_rate: float = 0.5,
    l2: float = 1e-6,
    normalize: bool = True,
    feature: str = "word",
) -> dict:
    """Fit the logistic regression by full-batch gradient descent:
    featurize ONCE into a persisted ``(label, buckets)`` projection,
    then per iteration one map-side pass computes partition-partial
    gradients over the broadcast current weights and the driver
    applies ``w -= lr · (∇/n + l2·w)``. Labels must be 0/1 (int or
    boolean); rows with NULL label or no grams are dropped (and
    counted in the returned dict). Returns the model dict for
    :func:`score_quality_classifier` plus ``loss_history`` (mean
    log-loss per iteration — the descent invariant tests pin) and
    ``n_rows``/``n_dropped``.

    ``normalize=True`` (default) uses MEAN features (each document's
    bucket counts divided by its instance total): with raw counts the
    per-document margin scales with length and the gradient's
    Lipschitz constant with length SQUARED, so a learning rate tuned
    on short documents diverges on long ones — normalization makes
    ``learning_rate`` O(1) regardless of document length. The flag
    rides in the model dict, so the scorer replays the same feature
    scaling automatically.

    Determinism: the gradient is a float sum over partition
    partials, so training is deterministic for a fixed partitioning
    and bit-stable only up to summation order — exactness gates pin
    the SCORER on fixed weights; training is certified by descent +
    accuracy invariants (the pyspark.ml contract too)."""
    b, iters = _fit_args(num_buckets, n_iter)
    y = F.col(label_col).cast("double")
    with _featurize(
        df, y, text_col, b, seed, portable, feature,
        "train_quality_classifier",
        bad_label=(F.col("_y") != 0.0) & (F.col("_y") != 1.0),
    ) as (feats, n, total):
        w, bias, losses = _descend(
            feats, n, 1, b, iters, float(learning_rate), float(l2),
            bool(normalize), _logistic_residual,
        )
    return {
        "weights": w[0].tolist(),
        "bias": float(bias[0]),
        "num_buckets": b,
        "seed": int(seed),
        "portable": bool(portable),
        "normalize": bool(normalize),
        "feature": str(feature),
        "loss_history": losses,
        "n_rows": n,
        "n_dropped": total - n,
    }


def evaluate_classifier(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "quality_prob",
    threshold: float = 0.5,
    auc_bins: int = 10_000,
) -> DataFrame:
    """One-row evaluation frame for a scored+labeled corpus — the
    numbers published pipelines report for their quality filter:
    ``n, n_pos, n_neg, n_skipped, tp, fp, fn, tn, accuracy,
    precision, recall, f1, auc``. Confusion counts threshold the
    score at ``threshold``; rows with a NULL label or score are
    skipped and counted (a no-evidence document is neither correct
    nor incorrect).

    "Usable" rows have a 0/1 label and a finite score; rows with a
    NULL score/label or an out-of-domain label (anything but 0/1 —
    a 2 or a -1 would otherwise inflate ``n`` while landing in no
    confusion cell) count into ``n_skipped``. Scores are clamped
    into [0, 1) bins at both ends, so a raw margin column works too.

    AUC is the tie-corrected Mann-Whitney statistic over scores
    quantized into ``auc_bins`` equal-width bins: per bin the
    positive/total counts aggregate map-side into a ≤ bins-row
    table (the DSIR/B-bucket scale shape), the average-rank cumsum
    runs over that TINY frame, never the corpus — an exact global
    rank would be a corpus-sized single-task window, the pattern
    this repo bans. With well-spread scores the quantization error
    is O(1/bins); ties inside a bin use the standard average-rank
    correction, so the statistic is exact for scores that are
    already bin-aligned. Ratios are NULL when their denominator is
    zero (no positives, no negatives, or no predicted positives)
    rather than fabricating 0/0."""
    from pyspark.sql import Window

    b = int(auc_bins)
    if b < 1:
        raise ValueError(f"auc_bins must be >= 1 (got {auc_bins})")
    y = F.col(label_col).cast("double")
    s = F.col(score_col).cast("double")
    # NaN scores must land in n_skipped: NULL-only checks would let
    # NaN through, where Spark's NaN ordering evaluates NaN >= t as
    # true (inflating tp/fp) and the bin expression misplaces it
    usable = y.isin(0.0, 1.0) & s.isNotNull() & ~F.isnan(s)
    pred = s >= F.lit(float(threshold))

    base = scored.select(
        F.count("*").alias("n_total"),
        F.sum(usable.cast("long")).alias("n"),
        F.sum((usable & (y == 1.0)).cast("long")).alias("n_pos"),
        F.sum((usable & (y == 0.0)).cast("long")).alias("n_neg"),
        F.sum((usable & (y == 1.0) & pred).cast("long")).alias("tp"),
        F.sum((usable & (y == 0.0) & pred).cast("long")).alias("fp"),
        F.sum((usable & (y == 1.0) & ~pred).cast("long")).alias("fn"),
        F.sum((usable & (y == 0.0) & ~pred).cast("long")).alias("tn"),
    )

    # binned Mann-Whitney: avg rank of bin = (#rows below) + (size+1)/2
    bins = (
        scored.filter(usable)
        .select(
            F.greatest(
                F.least(
                    F.floor(s * F.lit(b)).cast("long"), F.lit(b - 1)
                ),
                F.lit(0),
            ).alias("_bin"),
            y.alias("_y"),
        )
        .groupBy("_bin")
        .agg(
            F.count("*").alias("_c"),
            F.sum("_y").alias("_cpos"),
        )
    )
    w = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = bins.select(
        "_cpos",
        (
            F.coalesce(F.sum("_c").over(w), F.lit(0))
            + (F.col("_c") + 1) / 2.0
        ).alias("_avg_rank"),
    )
    u = ranked.select(
        F.sum(F.col("_cpos") * F.col("_avg_rank")).alias("_rpos")
    )

    out = base.crossJoin(u).select(
        "n_total",
        "n",
        "n_pos",
        "n_neg",
        (F.col("n_total") - F.col("n")).alias("n_skipped"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("n") > 0,
            (F.col("tp") + F.col("tn")) / F.col("n"),
        ).alias("accuracy"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp") / (F.col("tp") + F.col("fp")),
        ).alias("precision"),
        F.when(
            F.col("n_pos") > 0, F.col("tp") / F.col("n_pos")
        ).alias("recall"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("tp") + F.col("fp") > 0)
            & (F.col("tp") > 0),
            2.0
            / (
                (F.col("tp") + F.col("fp")) / F.col("tp")
                + F.col("n_pos") / F.col("tp")
            ),
        ).alias("f1"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            (
                F.col("_rpos")
                - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
            )
            / (F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
    )
    return out


def calibration_curve(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "quality_prob",
    bins: int = 10,
) -> DataFrame:
    """Reliability table for a scored+labeled frame — the standard
    calibration companion to :func:`evaluate_classifier`'s AUC: one
    row per non-empty equal-width score bin with ``bin, n, mean_score,
    frac_pos, abs_gap`` (``abs_gap = |mean_score − frac_pos|`` is the
    bin's contribution to expected calibration error: ``ECE =
    Σ n/N · abs_gap``, which the caller can fold in one pass over
    these ≤ bins rows). A perfectly calibrated scorer has
    ``frac_pos ≈ mean_score`` in every bin; a separable-but-
    overconfident one shows the gap directly. Rows with a NULL label
    or score are skipped; the label column is otherwise averaged
    AS-IS (0/1 gives the positive rate; a continuous target gives a
    regression-style reliability curve — evaluate_classifier is the
    strict-0/1 surface). Bin indices clamp into [0, bins) at both
    ends, so raw margins work as the score column too. One
    map-side-combined aggregation; output is ≤ ``bins`` rows at any
    corpus size."""
    b = int(bins)
    if b < 1:
        raise ValueError(f"bins must be >= 1 (got {bins})")
    y = F.col(label_col).cast("double")
    s = F.col(score_col).cast("double")
    return (
        scored.filter(
            y.isNotNull() & ~F.isnan(y) & s.isNotNull() & ~F.isnan(s)
        )
        .select(
            F.greatest(
                F.least(
                    F.floor(s * F.lit(b)).cast("long"), F.lit(b - 1)
                ),
                F.lit(0),
            ).alias("bin"),
            y.alias("_y"),
            s.alias("_s"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.avg("_s").alias("mean_score"),
            F.avg("_y").alias("frac_pos"),
        )
        .select(
            "bin",
            "n",
            "mean_score",
            "frac_pos",
            F.abs(F.col("mean_score") - F.col("frac_pos")).alias(
                "abs_gap"
            ),
        )
    )
