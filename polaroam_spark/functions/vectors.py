"""Vector expressions over array<float|double> columns — native
higher-order functions (zip_with / aggregate), no UDFs, so similarity
scoring stays JVM-side and codegen-friendly.

Beyond-reference capability (BASELINE.json north star): the reference
has no embedding operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ accumulated in double, left-to-right."""
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a, b) / (‖a‖·‖b‖); NULL when either vector is all zeros
    (a zero norm has no direction). ``try_divide`` rather than a
    ``when`` guard: the norms are higher-order aggregates with no
    common-subexpression elimination, so a guard would compute them
    twice — and plain division aborts the job under ANSI mode."""
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


def cosine_similarity_arrow():
    """Arrow-batched cosine scorer with the same contract as
    :func:`cosine_similarity` — the scale path for dot-product-heavy
    plans (IVF centroid assignment scores n·num_centroids pairs; the
    interpreted higher-order aggregate measured ~4k dim-64 dots per
    second per core, while one numpy/BLAS pass per Arrow batch is
    10-50x that).

    Returns a fresh pandas UDF (built lazily so importing this module
    never touches pyarrow). Caveat for oracle-gated paths: float
    summation ORDER differs from the native left-fold (numpy reduces
    pairwise), so scores agree only to ~1e-15 — keep the native
    expression wherever a SQL twin must hash-match bit-for-bit; rank
    flips require two true cosines within that margin.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # no pd.Series type hints: this module uses postponed annotation
    # evaluation, which PySpark's hint-based inference cannot resolve
    def _cos(a, b):
        an, bn = a.to_numpy(), b.to_numpy()
        # NULL vectors score null, matching the native expression
        # (np.stack would crash the worker on a None element);
        # non-null vectors within a batch must share one dimension
        valid = np.array(
            [x is not None and y is not None for x, y in zip(an, bn)],
            dtype=bool,
        )
        out = np.full(len(an), None, dtype=object)
        if valid.any():
            A = np.stack(an[valid])
            B = np.stack(bn[valid])
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[valid] = num / den
        return pd.Series(out, dtype=object)

    _cos.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    return pandas_udf(_cos, "double")


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize a vector (cosine becomes a plain dot product
    downstream — the standard pre-step before ANN indexing). Zero
    vectors pass through unchanged rather than dividing by zero."""
    v = _col(a)
    n = l2_norm(v)
    return F.when(
        n > 0, F.transform(v, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(v, lambda x: x.cast("double")))


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: scale by 127/max|x|
    and round — 4x storage reduction for embedding columns. Returns
    ``struct<codes: array<tinyint>, scale: double>``; dequantize with
    :func:`dequantize_int8`. Constant-zero vectors get scale 0."""
    v = _col(a)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    codes = F.transform(
        v,
        lambda x: F.when(
            scale > 0, F.round(x.cast("double") / scale, 0)
        ).otherwise(F.lit(0.0)).cast("tinyint"),
    )
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8` (lossy: max abs error is
    scale/2 per component)."""
    q = _col(q)
    return F.transform(
        q["codes"], lambda c: c.cast("double") * q["scale"]
    )


def make_scorer(scorer: str):
    """Resolve a cosine scoring backend shared by the similarity and
    dedup operators: ``'native'`` = JVM higher-order aggregate
    (bit-reproducible vs SQL oracles — the default and the only
    choice for oracle-gated paths); ``'arrow'`` = numpy/BLAS pandas
    UDF, 10-50x faster per pair (see :func:`cosine_similarity_arrow`
    for the float-order caveat). Returns a callable taking two
    column names / Columns and returning a double Column."""
    from pyspark.sql import functions as F

    if scorer == "native":
        return cosine_similarity
    if scorer == "arrow":
        udf = cosine_similarity_arrow()

        def score(a, b):
            return udf(
                F.col(a) if isinstance(a, str) else a,
                F.col(b) if isinstance(b, str) else b,
            )

        return score
    raise ValueError(f"unknown scorer {scorer!r}: use 'native' or 'arrow'")
