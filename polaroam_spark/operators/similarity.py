"""Similarity search over embedding columns (``array<float>``).

One contract (query vectors → top-k neighbors), a ladder of paths
trading exactness for scale:

- ``cosine_topk`` — brute-force baseline. The query side is
  broadcast (it is small by definition: a query batch), so the "cross
  join" is a broadcast nested-loop over data partitions — no shuffle
  of the big side at all; cost is a single scan. Correct at any data
  scale as long as the *query* set stays broadcast-sized.
- ``ann_lsh_topk`` — random-hyperplane LSH buckets on both sides,
  equi-join on the bucket, exact cosine only within buckets. Recall
  < 1.0 by construction; raise ``num_probes`` (bucket bit-flips
  probed, margin-ordered) for better recall at more candidate cost.
- ``build_ivf_index`` + ``ann_ivf_topk`` — inverted-file coarse
  quantizer: one-time centroid build, queries exact-score only their
  probed lists (~num_probes/num_centroids of the corpus).
- ``train_pq_codebooks`` + ``pq_encode`` + ``pq_topk`` — product
  quantization: the corpus becomes 16 B/vector codes scored via
  broadcast ADC lookup tables; the memory/scan-I/O path.
- ``ann_ivfpq_topk`` — IVF × PQ composed (the Faiss-style serving
  layout): probe-pruned lists over quantized codes.

Every path is partition → local top-k → merge over one core, and
keeps only its candidate generation, score and sort direction: the
ranking rule :func:`_rank_topk`, the Lloyd step :func:`_lloyd_update`,
the PQ layout check :func:`_pq_geometry`, the nearest-codeword kernels
:func:`_nearest_code` (native) and :func:`_codebook_tensor` +
:func:`_nearest_codes` (numpy, also OPQ's), and the IVF probe and
centroid join :func:`_ivf_probe` / :func:`_centroid_join`.
``tests/test_vector_golden.py`` pins every path's output.

Hyperplanes are deterministic pseudo-random (sin-based formula) so
runs are reproducible across sessions/engines without shipping a
weights file; components are computed with JVM math functions.
Every path defaults to pure JVM expressions (no UDF — bit-reproducible
against the SQL oracles); pass ``scorer='arrow'`` to swap the cosine
hot loop for a numpy/BLAS pandas UDF where throughput matters more
than float-summation-order reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polaroam_spark.functions.vectors import make_scorer as _make_scorer

# Bound on the rows of the one driver-side codebook collect
# (:func:`_codebook_tensor`): M × K rows. 256 subspaces × 256 codes
# (8-bit codes, the Faiss convention) is 65536 rows; the tensor is
# then K × D doubles, 8 MB at D = 4096. Anything larger is a corpus
# mistaken for a codebook.
_MAX_CODEBOOK_ROWS = 1 << 16


def _rank_topk(
    scored: DataFrame, query_id: str, data_id: str, score: str, k: int,
    ascending: bool = False, dedup: bool = False,
) -> DataFrame:
    """The per-query ranking rule: ``[query_id, data_id, score, rank]``
    for the ``k`` best rows per query by ``score`` (descending unless
    ``ascending``), ties to the smaller data id. Projects BEFORE the
    window exchange, which otherwise shuffles both vectors (~2 × dim
    doubles) per candidate instead of one double; ``dedup`` then drops
    repeated (query, id) pairs (multi-probe candidates — the score is a
    pure function of the pair)."""
    ranked = scored.select(query_id, data_id, score)
    if dedup:
        ranked = ranked.dropDuplicates([query_id, data_id])
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy(query_id).orderBy(order, F.col(data_id).asc())
    return ranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _lloyd_update(assigned: DataFrame, keys: list, vec: str, out: str):
    """Lloyd centroid step: ``[*keys, out]``, ``out`` the per-dimension
    mean of the ``vec`` arrays assigned to each key (posexplode →
    groupBy(key, dim) → avg, re-assembled in dimension order)."""
    return (
        assigned.select(*keys, F.posexplode(vec).alias("_pos", "_val"))
        .groupBy(*keys, "_pos")
        .agg(F.avg("_val").alias("_mean"))
        .groupBy(*keys)
        .agg(
            F.array_sort(F.collect_list(F.struct("_pos", "_mean"))).alias(
                "_dims"
            )
        )
        .select(*keys, F.transform("_dims", lambda s: s["_mean"]).alias(out))
    )


def _plane_component(p: int | Column, d: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1]:
    sin(p * 7919 + d * 104729) quantized to 6 decimals via
    floor(x*1e6 + 0.5)/1e6. The quantization costs nothing as a
    hyperplane (any fixed pseudo-random direction works) but pins the
    weights to values every engine agrees on bit-for-bit — JVM sin()
    differs from C libm by 1 ulp on these arguments, and an
    unquantized weight could flip a sign bucket in a cross-engine
    oracle; no sin value here sits within 1e-10 of a quantization
    boundary (measured for p<8, d<256), so the 1-ulp input wobble
    never changes the floor. floor-based quantization, NOT F.round:
    Spark's round() on doubles detours through BigDecimal and
    measurably doubled the ANN hot path (2.6 s vs 1.4 s at sf0.1)."""
    p = F.lit(p) if isinstance(p, int) else p
    raw = F.sin(p * F.lit(7919.0) + d.cast("double") * F.lit(104729.0))
    return F.floor(raw * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _plane_dots(v: Column, num_planes: int) -> Column:
    """Array of the vector's dot products with the ``num_planes``
    deterministic hyperplanes — sign gives the bucket bit, magnitude
    the margin (how close the vector sits to the boundary)."""
    dims = F.sequence(F.lit(0), F.array_size(v) - 1)

    def plane_dot(p: Column) -> Column:
        prods = F.zip_with(
            v,
            F.transform(dims, lambda d: _plane_component(p, d)),
            lambda x, w: x.cast("double") * w,
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    return F.transform(
        F.sequence(F.lit(0), F.lit(num_planes - 1)), plane_dot
    )


def _bucket_from_dots(dots: Column) -> Column:
    """Bucket id from sign bits: plane p sets bit p (LSB-first).
    2^p via pow is exact in double up to p=52 — far beyond any
    sane plane count."""
    bits = F.transform(
        dots,
        lambda d, i: F.when(d >= 0, F.pow(F.lit(2.0), i)).otherwise(
            F.lit(0.0)
        ),
    )
    return F.aggregate(bits, F.lit(0.0), lambda a, x: a + x).cast("long")


def _lsh_bucket_arrow(num_planes: int):
    """Arrow-batched bucketer: one numpy matmul per batch against the
    same quantized-sin hyperplanes as :func:`_plane_component` —
    the scale path for bucketing the DATA side (n × planes × dim
    interpreted HOF work natively). Sign decisions can differ from
    the native fold only when a true dot sits within float-summation
    reordering (~1e-15) of zero; a flipped sign moves that vector to
    the adjacent bucket, an ANN-recall non-event. Keep the native
    bucketer wherever a SQL oracle pins exact bucket contents."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def _bucket(v):
        arr = v.to_numpy()
        # null vectors get bucket 0, matching the native expression's
        # output on NULL embeddings (vectors within a batch must
        # share one dimension — same contract as the arrow scorer)
        valid = np.array([x is not None for x in arr], dtype=bool)
        out = np.zeros(len(arr), dtype=np.int64)
        if valid.any():
            V = np.stack(arr[valid]).astype(np.float64)
            dims = np.arange(V.shape[1], dtype=np.float64)
            planes = np.arange(num_planes, dtype=np.float64)
            raw = np.sin(
                np.add.outer(planes * 7919.0, dims * 104729.0)
            )
            w = np.floor(raw * 1e6 + 0.5) / 1e6  # (planes, dim)
            bits = (V @ w.T >= 0).astype(np.int64)
            out[valid] = (
                bits << np.arange(num_planes, dtype=np.int64)
            ).sum(axis=1)
        return pd.Series(out)

    _bucket.__annotations__ = {"v": pd.Series, "return": pd.Series}
    # asNondeterministic is an optimizer fence, not a semantics
    # change (the bucket is a pure function of the vector): the ANN
    # join on lsh_bucket infers an isnotnull(bucket) predicate, and
    # without the fence the optimizer pushes it below this UDF and
    # DUPLICATES the evaluation — two stacked ArrowEvalPython nodes,
    # every embedding bucketed twice per action (observed on the r19
    # ann_topk bench plan; guide §4.4).
    return pandas_udf(_bucket, "long").asNondeterministic()


def add_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    bucketer: str = "native",
) -> DataFrame:
    """Append ``lsh_bucket`` (long): sign bits of the vector's dot
    product with ``num_planes`` deterministic hyperplanes.
    ``bucketer='native'`` (default) is all array higher-order
    functions — bit-reproducible vs SQL oracles; ``'arrow'`` swaps in
    one numpy matmul per Arrow batch (~10x on the data side — see
    :func:`_lsh_bucket_arrow` for the sign-boundary caveat).
    """
    if bucketer == "arrow":
        return df.withColumn(
            "lsh_bucket", _lsh_bucket_arrow(num_planes)(F.col(vec_col))
        )
    if bucketer != "native":
        raise ValueError(
            f"unknown bucketer {bucketer!r}: use 'native' or 'arrow'"
        )
    return df.withColumn(
        "lsh_bucket", _bucket_from_dots(_plane_dots(F.col(vec_col), num_planes))
    )


def _assign_to_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vcol: str,
    keep: int,
    score,
) -> DataFrame:
    """Nearest ``keep`` centroids per vector: broadcast join against
    the tiny centroid set; argmax via max-of-struct when keep=1 (no
    window over every row)."""
    scored = df.crossJoin(F.broadcast(centroids)).withColumn(
        "_ccos", score(vcol, "_cvec")
    )
    if keep == 1:
        best = scored.groupBy(id_col).agg(
            F.max(F.struct("_ccos", "centroid_id")).alias("_best")
        )
        return best.select(
            id_col, F.col("_best.centroid_id").alias("centroid_id")
        )
    return _rank_topk(scored, id_col, "centroid_id", "_ccos", keep).select(
        id_col, "centroid_id"
    )


def _centroid_join(
    df: DataFrame, assign: DataFrame, right: DataFrame, id_col: str
) -> DataFrame:
    """``df`` equi-joined on ``id_col`` to ``assign`` (one side
    carries each row's ``centroid_id``), then to the broadcast,
    ``centroid_id``-keyed ``right``: the centroid vectors (residuals)
    or the queries probing each list (IVF search)."""
    return df.join(assign, on=id_col).join(
        F.broadcast(right), on="centroid_id"
    )


def _ivf_probe(
    data, queries, index, data_id, query_id, vec_col, num_probes, score
):
    """IVF query phase of :func:`ann_ivf_topk` and
    :func:`ann_ivfpq_topk`: ``(q, q_probe, cand)`` — the query side
    ``[query_id, _qvec]``, each query's ``num_probes`` nearest
    centroids, and the ``data`` rows of the probed lists joined to
    their probing queries."""
    if num_probes < 1:
        raise ValueError(f"num_probes must be >= 1, got {num_probes}")
    centroids, assign = index
    q = queries.select(F.col(query_id), F.col(vec_col).alias("_qvec"))
    q_probe = _assign_to_centroids(
        q, centroids, query_id, "_qvec", num_probes, score
    )
    return q, q_probe, _centroid_join(data, assign, q_probe, data_id)


def build_ivf_index(
    data: DataFrame,
    data_id: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    kmeans_iterations: int = 0,
    scorer: str = "native",
) -> tuple[DataFrame, DataFrame]:
    """ONE-TIME build phase of IVF search: returns ``(centroids,
    assignment)`` where centroids is ``centroid_id, _cvec`` (broadcast
    sized) and assignment is ``<data_id>, centroid_id`` (one row per
    data vector).

    This is the expensive half — O(n · num_centroids) scored pairs
    ((1 + kmeans_iterations)× that with refinement) versus the query
    phase's O(n · num_probes / num_centroids) per batch. Like
    ``dedup.build_minhash_index``, build it once per corpus, persist
    both frames (the assignment is two narrow columns — write it
    bucketed on ``data_id`` for a shuffle-free join at query time),
    and serve every query batch from it via
    ``ann_ivf_topk(..., index=...)``; recomputing the assignment per
    batch measured 6x the cost of the query itself at 40k vectors.

    ``scorer='arrow'`` accelerates the build 10-50x (numpy/BLAS per
    Arrow batch); assignments can differ from ``'native'`` only for
    vectors whose two nearest centroids tie within float-sum
    reordering (~1e-15). Keep ``'native'`` where a SQL oracle
    reproduces the index bit-for-bit.

    Centroid seeds are deterministic hash-rank samples: works for any
    id type/distribution (a ``% stride`` scheme assumes dense numeric
    ids and silently yields zero centroids otherwise); orderBy+limit
    compiles to a distributed top-k, not a full sort. Lloyd rounds are
    one broadcast-assign pass plus a per-dimension mean (posexplode →
    groupBy(centroid, dim) → avg, re-assembled into an array); the
    centroid table never leaves broadcast size.
    """
    if num_centroids < 1:
        raise ValueError(f"num_centroids must be >= 1, got {num_centroids}")
    score = _make_scorer(scorer)
    centroids = (
        data.orderBy(F.xxhash64(F.col(data_id).cast("string")))
        .limit(num_centroids)
        .select(
            F.col(data_id).alias("centroid_id"),
            F.col(vec_col).alias("_cvec"),
        )
    )
    d = data.select(F.col(data_id), F.col(vec_col).alias("_dvec"))
    for _ in range(int(kmeans_iterations)):
        assigned = _assign_to_centroids(
            d, centroids, data_id, "_dvec", 1, score
        )
        centroids = _lloyd_update(
            d.join(assigned, on=data_id), ["centroid_id"], "_dvec", "_cvec"
        )
    assignment = _assign_to_centroids(
        d, centroids, data_id, "_dvec", 1, score
    )
    return centroids, assignment


def ann_ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    num_centroids: int | None = None,
    num_probes: int = 2,
    kmeans_iterations: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
    scorer: str = "native",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path
    beside LSH.

    1. Build phase (:func:`build_ivf_index` — pass its result as
       ``index`` to amortize it across query batches; without it the
       index is built inline from ``num_centroids`` /
       ``kmeans_iterations``, defaulting to 16 / 0): coarse centroids
       + nearest-centroid assignment of every data vector.
    2. Query phase: each query probes its ``num_probes`` nearest
       centroids and exact-scores only those inverted lists — the
       expensive scoring touches ~``num_probes/num_centroids`` of the
       data, the IVF contract.

    ``num_centroids`` / ``kmeans_iterations`` describe the BUILD and
    are meaningless alongside a prebuilt ``index`` — passing both
    raises rather than silently ignoring the build params (a caller
    who tuned num_probes against the stated centroid count would
    otherwise scan a different data fraction than intended; the
    actual centroid count lives in the index itself).

    Default ``scorer='native'`` keeps every expression JVM-side (and
    bit-reproducible vs the SQL oracle); ``'arrow'`` swaps the cosine
    for the numpy/BLAS pandas UDF where throughput matters more than
    float-order reproducibility.
    """
    score = _make_scorer(scorer)
    if index is None:
        index = build_ivf_index(
            data,
            data_id,
            vec_col,
            16 if num_centroids is None else num_centroids,
            0 if kmeans_iterations is None else kmeans_iterations,
            scorer,
        )
    elif num_centroids is not None or kmeans_iterations is not None:
        raise ValueError(
            "num_centroids/kmeans_iterations are build parameters and "
            "conflict with a prebuilt index= — they describe "
            "build_ivf_index's job, which already ran"
        )
    d = data.select(F.col(data_id), F.col(vec_col).alias("_dvec"))
    q, _, cand = _ivf_probe(
        d, queries, index, data_id, query_id, vec_col, num_probes, score
    )
    scored = cand.join(F.broadcast(q), on=query_id).withColumn(
        "cosine", score("_dvec", "_qvec")
    )
    return _rank_topk(scored, query_id, data_id, "cosine", k)


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    scorer: str = "native",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast — the plan is scan(data) × broadcast,
    one pass over the big side, then a per-query top-k window on the
    (|queries| × k)-bounded candidate set.
    Output: ``query_id, vec_id, cosine, rank``.
    ``scorer='arrow'`` swaps the cosine for the numpy/BLAS pandas UDF
    (10-50x per pair; float-order caveat in functions.vectors).
    """
    score = _make_scorer(scorer)
    q = F.broadcast(
        queries.select(
            F.col(query_id), F.col(vec_col).alias("_qvec")
        )
    )
    scored = data.select(
        F.col(data_id), F.col(vec_col).alias("_dvec")
    ).crossJoin(q).withColumn("cosine", score("_dvec", "_qvec"))
    return _rank_topk(scored, query_id, data_id, "cosine", k)


def ann_lsh_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_probes: int = 1,
    scorer: str = "native",
    bucketer: str = "native",
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket, exact cosine within
    bucket. ``num_probes > 1`` also probes buckets at hamming
    distance 1 from the query's bucket (multi-probe LSH) to recover
    neighbors split across a hyperplane.
    Output: ``query_id, vec_id, cosine, rank`` (rank within probed
    candidates). ``scorer='arrow'`` swaps the within-bucket cosine
    for the numpy/BLAS pandas UDF (float-order caveat in
    functions.vectors); ``bucketer='arrow'`` swaps the DATA-side
    bucket computation — the n-scaling part — for one numpy matmul
    per Arrow batch (the query side stays native: it is tiny and
    multi-probe needs its per-plane margins).
    """
    score = _make_scorer(scorer)
    d = add_lsh_bucket(
        data.select(F.col(data_id), F.col(vec_col).alias("_dvec")),
        "_dvec",
        num_planes,
        bucketer=bucketer,
    )
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qvec")
    ).withColumn("_dots", _plane_dots(F.col("_qvec"), num_planes))
    q = q.withColumn("lsh_bucket", _bucket_from_dots(F.col("_dots")))
    if num_probes > 1:
        # Multi-probe (Lv et al., VLDB 2007): perturb the bits whose
        # hyperplane the query sits CLOSEST to — those boundaries are
        # the ones most likely to have split off true neighbors. Probe
        # buckets are all non-empty subsets of the `base` most
        # marginal bits, visited in order of summed margin (smallest
        # total displacement first), truncated to num_probes-1. A
        # fixed flip order would probe mostly useless buckets.
        base = 1
        while (1 << base) - 1 < num_probes - 1 and base < min(
            num_planes, 6
        ):
            base += 1
        by_margin = F.slice(
            F.array_sort(
                F.transform(
                    F.col("_dots"),
                    lambda d, i: F.struct(
                        F.abs(d).alias("m"), i.alias("p")
                    ),
                )
            ),
            1,
            base,
        )
        sz = F.array_size(by_margin)

        def subset_field(s: Column, field: str, cast: str) -> Column:
            # sum of by_margin[i].<field> over the bits set in s
            return F.aggregate(
                F.sequence(F.lit(0), sz - 1),
                F.lit(0.0),
                lambda acc, i: acc
                + F.when(
                    (s.cast("long").bitwiseAND(
                        F.pow(F.lit(2.0), i).cast("long")
                    ))
                    > 0,
                    F.element_at(by_margin, i + 1)[field].cast(
                        "double"
                    )
                    if field == "m"
                    else F.pow(
                        F.lit(2.0), F.element_at(by_margin, i + 1)[field]
                    ),
                ).otherwise(F.lit(0.0)),
            ).cast(cast)

        perturbations = F.slice(
            F.array_sort(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.pow(F.lit(2.0), sz).cast("int") - 1,
                    ),
                    lambda s: F.struct(
                        subset_field(s, "m", "double").alias("msum"),
                        subset_field(s, "p", "long").alias("mask"),
                    ),
                )
            ),
            1,
            num_probes - 1,
        )
        probe_buckets = F.concat(
            F.array(F.col("lsh_bucket")),
            F.transform(
                perturbations,
                lambda s: F.col("lsh_bucket").bitwiseXOR(s["mask"]),
            ),
        )
        q = q.withColumn("lsh_bucket", F.explode(probe_buckets))
    q = q.drop("_dots")
    scored = d.join(F.broadcast(q), on="lsh_bucket", how="inner").withColumn(
        "cosine", score("_dvec", "_qvec")
    )
    return _rank_topk(scored, query_id, data_id, "cosine", k, dedup=True)


def embedding_similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "vec_id",
    vec_col: str = "embedding",
    right_id: str | None = None,
    right_vec: str | None = None,
    cosine_threshold: float = 0.9,
    num_planes: int = 8,
    max_bucket_size: int = 1000,
    scorer: str = "native",
    bucketer: str = "native",
) -> DataFrame:
    """Two-table embedding similarity join — ``[left_id, right_id,
    cosine]`` for cross pairs with exact cosine ≥ the threshold among
    hyperplane-bucket candidates: the vector sibling of
    :func:`~polaroam_spark.operators.dedup.fuzzy_text_join` (link a
    scrape against a curated corpus by meaning rather than tokens).

    Both sides hash with the SAME deterministic planes, so identical
    or near-identical vectors land in the same bucket and meet in a
    bucket equi-join — never a cross product. Hot buckets on EITHER
    side (> ``max_bucket_size``) degrade to comparing against the
    right bucket's min-id representative only — an approximation,
    documented rather than silent: a template-vector pile matches
    through one representative instead of exploding one join task.
    The bucket window and the right side's one-sided guard are the
    dedup pair core's (:func:`~polaroam_spark.operators.dedup.
    _bucket_stats`, :func:`~polaroam_spark.operators.dedup.
    _hot_guard`). All-zero vectors score NULL and never pair.

    SIZING: the bucket space is only ``2^num_planes``, and occupancy
    grows linearly with table size — once
    ``n_right >> max_bucket_size * 2^num_planes`` every bucket is hot
    and the join silently collapses to representative matching. Pick
    ``num_planes ≈ log2(n_right / max_bucket_size)``, remembering the
    single-band recall tradeoff (P[same bucket] = (1 − θ/π)^planes —
    this operator is for NEAR-DUP thresholds where θ is small; for
    broader semantic linking run :func:`ann_lsh_topk` per query batch
    instead). Dedup each side first for degenerate corpora.
    """
    from polaroam_spark.operators.dedup import _bucket_stats, _hot_guard

    rid = right_id or left_id
    rvec = right_vec or vec_col
    score = _make_scorer(scorer)
    keys = ["lsh_bucket"]

    def bucketed(df: DataFrame, id_col: str, vec: str, v: str):
        # ids only in the window aggregates — a min(struct(id, vec))
        # would shuffle a second full vector copy per row
        return _bucket_stats(
            add_lsh_bucket(
                df.select(F.col(id_col).alias("_id"), F.col(vec).alias(v)),
                v,
                num_planes,
                bucketer,
            ),
            keys,
        )

    lb = bucketed(left, left_id, vec_col, "_lv")
    rb = bucketed(right, rid, rvec, "_rv")
    r_cols = ["lsh_bucket", F.col("_id").alias("_rid"), "_rv"]
    r_side = _hot_guard(rb, max_bucket_size).select(*r_cols)
    rep = rb.filter(F.col("_id") == F.col("_rep")).select(*r_cols)
    l_cols = ["lsh_bucket", F.col("_id").alias("_lid"), "_lv"]
    cand = (
        lb.filter(F.col("_bn") <= max_bucket_size)
        .select(*l_cols)
        .join(r_side, on=keys, how="inner")
        .unionByName(
            # hot LEFT buckets: each left row meets only the right
            # representative — bounds one bucket's work at |left
            # bucket| instead of |left bucket| x |right bucket|
            lb.filter(F.col("_bn") > max_bucket_size)
            .select(*l_cols)
            .join(rep, on=keys, how="inner")
        )
    )
    return (
        cand.withColumn("cosine", score("_lv", "_rv"))
        .filter(F.col("cosine") >= F.lit(float(cosine_threshold)))
        .select(
            F.col("_lid").alias("left_id"),
            F.col("_rid").alias("right_id"),
            "cosine",
        )
    )


def _pq_slices(df: DataFrame, id_col: str, vec_col: str, m: int, d_sub: int):
    """Explode each vector into its ``m`` subspace slices:
    ``[<id>, _m, _svec]`` — the shared shape of PQ train/encode/LUT."""
    subspaces = F.broadcast(
        df.sparkSession.range(int(m)).select(
            F.col("id").cast("int").alias("_m")
        )
    )
    return df.crossJoin(subspaces).select(
        F.col(id_col),
        "_m",
        F.slice(
            F.col(vec_col), F.col("_m") * d_sub + 1, d_sub
        ).alias("_svec"),
    )


def _l2sq(a, b) -> Column:
    """Squared L2 distance between two equal-length arrays — the PQ
    metric (monotone with L2; on unit vectors monotone with cosine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _vector_dim(df: DataFrame, vec_col: str) -> "int | None":
    """Length of the first vector in ``df``, None when it is empty."""
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if first is None else int(first["d"])


def _pq_geometry(
    dim: int, m: "int | None" = None, codebooks: "DataFrame | None" = None
) -> tuple[int, int]:
    """``(m, d_sub)`` of a PQ layout over ``dim``-dim vectors, or a
    ``ValueError``. Training passes ``m``; encoding and search read it
    from ``codebooks``, whose subspace ids must be exactly ``0..m-1``:
    every consumer is positional by subspace, so a missing middle
    subspace would silently shift later ones onto the wrong codewords.
    ``m`` must divide ``dim`` (padding would distort the last
    subspace's metric). Gapped CODE ids are legal (filled with +inf)."""
    if codebooks is not None:
        row = codebooks.agg(
            (F.max("_m") + 1).alias("m"),
            F.min("_m").alias("m_min"),
            F.countDistinct("_m").alias("m_distinct"),
        ).first()
        if row["m"] is None:
            raise ValueError("codebooks are empty")
        m = int(row["m"])
        if row["m_min"] != 0 or row["m_distinct"] != m:
            raise ValueError(
                f"codebooks must cover every subspace 0..{m - 1} exactly"
                f" once (got min _m={row['m_min']},"
                f" {row['m_distinct']} distinct of {m} expected)"
            )
    if m < 1:
        raise ValueError(f"num_subspaces must be >= 1, got {m}")
    if dim % m != 0:
        raise ValueError(
            f"subspace count {m} does not divide vector dim {dim} (a dim"
            " not divisible by it would leave a ragged last subspace)"
        )
    return m, dim // m


def _nearest_code(
    slices: DataFrame, codebooks: DataFrame, id_col: str, *carry: str
) -> DataFrame:
    """Native nearest-codeword kernel: ``[id_col, _m, _code, *carry]``,
    one row per (vector, subspace) of ``slices`` (:func:`_pq_slices`),
    by min-of-struct over :func:`_l2sq` against the broadcast
    codebooks — no window; ties go to the smallest code id (struct
    ordering), deterministic on any engine."""
    return (
        slices.join(F.broadcast(codebooks), on="_m")
        .groupBy(id_col, "_m")
        .agg(
            F.min(
                F.struct(
                    _l2sq("_svec", "_cvec").alias("_d"),
                    F.col("_code").alias("_code"),
                    *(F.col(c).alias(c) for c in carry),
                )
            ).alias("_best")
        )
        .select(id_col, "_m", *(f"_best.{c}" for c in ("_code", *carry)))
    )


def _codebook_tensor(codebooks: DataFrame, m: int, d_sub: int):
    """The one driver collect of a codebook frame ``[_m, _code,
    _cvec]``: a dense ``(m, k, d_sub)`` numpy tensor, ``k`` = max code
    id + 1. Code ids need not be dense (a Lloyd round drops codewords
    whose cell emptied); gaps are +inf so a phantom code can never win
    an argmin. More than ``_MAX_CODEBOOK_ROWS`` rows raises."""
    import numpy as np

    bound = _MAX_CODEBOOK_ROWS
    rows = codebooks.orderBy("_m", "_code").limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"codebooks exceed {bound} rows (subspaces x codes), the"
            " bound on collecting them to the driver"
        )
    k = max(int(r["_code"]) for r in rows) + 1
    books = np.full((m, k, d_sub), np.inf, dtype=np.float64)
    for r in rows:
        books[int(r["_m"]), int(r["_code"])] = np.asarray(
            r["_cvec"], dtype=np.float64
        )
    return books


def _nearest_codes(x, books):
    """numpy nearest-codeword kernel: the ``(n, m)`` int32 code matrix
    of the ``(n, m · d_sub)`` batch ``x`` against the
    :func:`_codebook_tensor` ``books`` — one broadcast distance block
    and argmin per subspace (argmin ties to the smallest code, like
    the native kernel)."""
    import numpy as np

    m, _, d_sub = books.shape
    out = np.empty((len(x), m), dtype=np.int32)
    for mi in range(m):
        sl = x[:, mi * d_sub : (mi + 1) * d_sub]
        d2 = ((sl[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=-1)
        out[:, mi] = d2.argmin(axis=1)
    return out


def _residualize(
    data: DataFrame,
    index: "tuple[DataFrame, DataFrame]",
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Replace each vector by its RESIDUAL to the assigned IVF
    centroid (vec − centroid) — the Faiss IVF-PQ encoding convention.
    On CLUSTERED corpora (real embedding spaces) residuals
    concentrate around zero with less variance than raw vectors, so
    the same codebook budget quantizes them more accurately. On
    ISOTROPIC data the convention backfires — measured on the
    synthetic test embeddings (BASELINE.md §residual probe): the
    nearest of 64 random centroids sits at cosine ≈0.38 in 64
    dims, residual energy is LARGER than raw (1.23 vs 1.0) and the
    per-centroid offsets make residual slices multi-modal, so a
    32-code book explains almost none of the variance (MSE 1.22 vs
    raw 0.07) — pick residual per corpus, it is an option, not a
    default. One equi-join on the (narrow) assignment plus one
    broadcast centroid join; the subtraction is a JVM ``zip_with``.
    Used by :func:`train_pq_codebooks` / :func:`pq_encode` when an
    ``index`` is passed — train, encode, and query MUST all use the
    SAME index or distances are meaningless (same discipline Faiss
    requires)."""
    centroids, assign = index
    return _centroid_join(data, assign, centroids, id_col).select(
        F.col(id_col),
        F.zip_with(vec_col, "_cvec", lambda a, b: a - b).alias(vec_col),
    )


def _residual_energy_ratio(
    data: DataFrame,
    index: "tuple[DataFrame, DataFrame]",
    id_col: str,
    vec_col: str,
) -> "float | None":
    """mean ‖x − c(x)‖² / mean ‖x‖² over the corpus — ONE aggregate
    (a single broadcast-join scan, no shuffle of vectors). < 1 means
    the IVF centroids explain variance and the Faiss residual
    convention will help PQ; ≥ 1 means the corpus is isotropic
    relative to its centroids and residualizing actively hurts (the
    r10 probe measured recall 19/200 residual vs 148/200 raw on the
    synthetic embeddings — BASELINE.md §residual probe). None on an
    empty or zero-energy corpus."""
    centroids, assign = index
    sq = F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x
    )
    row = (
        _centroid_join(data, assign, centroids, id_col)
        .agg(
            F.avg(sq).alias("_x2"),
            F.avg(_l2sq(vec_col, "_cvec")).alias("_r2"),
        )
        .first()
    )
    if row is None or row["_x2"] is None or row["_x2"] <= 0.0:
        return None
    return float(row["_r2"]) / float(row["_x2"])


def train_pq_codebooks(
    data: DataFrame,
    data_id: str = "vec_id",
    vec_col: str = "embedding",
    num_subspaces: int = 8,
    codes_per_subspace: int = 64,
    kmeans_iterations: int = 1,
    index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    split the D dims into ``num_subspaces`` contiguous slices and
    k-means each slice independently. Returns ``[_m, _code, _cvec]``
    — M × K rows, broadcast-sized at any corpus scale (the whole
    point: 256 codes × 16 subspaces × a few floats is KBs while the
    corpus it indexes is TBs).

    Same determinism contract as :func:`build_ivf_index`: seeds are
    hash-rank samples of the data (works for any id type, no RNG),
    Lloyd rounds are min-of-struct assignment + per-dimension means
    — bit-stable across runs and engines. Shuffle shape: the train
    pipeline moves M skinny rows per sampled/assigned vector, keyed
    by (id, subspace) then (subspace, code) — never the full
    vectors twice.

    D must divide evenly by ``num_subspaces`` (raises otherwise —
    padding would silently distort the last subspace's metric).

    Code ids are re-densified to ``0..K'-1`` per subspace before
    returning: a Lloyd round drops codewords whose cell empties
    (routine with duplicate/clustered vectors), and downstream
    consumers that build positional structures (the ADC LUT rows in
    :func:`pq_topk`, the arrow encoder's numpy book tensor) are
    simplest and cheapest when ids are dense. The relabel is a
    window over the M×K codebook frame — driver-trivial.

    ``index`` (optional, an IVF ``(centroids, assignment)`` pair):
    train on RESIDUALS to each vector's assigned centroid instead of
    raw vectors — the Faiss IVF-PQ convention (see
    :func:`_residualize`); pass the SAME index to :func:`pq_encode`
    and ``ann_ivfpq_topk(residual=True)``. Because the convention
    BACKFIRES on corpora whose centroids don't explain variance
    (VERDICT r10 #6), build time emits the one-aggregate diagnostic
    mean ‖x−c‖²/‖x‖² and raises a ``UserWarning`` when residual
    energy is not below raw — at 100 TB a silently wrong convention
    is an 8× recall loss discovered only at serving time (the r10
    probe: recall 19/200 residual vs 148/200 raw on isotropic
    embeddings, residual MSE 1.22 vs raw 0.07 — BASELINE.md
    §residual probe).
    """
    k = int(codes_per_subspace)
    if k < 1:
        raise ValueError(f"codes_per_subspace must be >= 1, got {k}")
    if index is not None:
        ratio = _residual_energy_ratio(data, index, data_id, vec_col)
        if ratio is not None and ratio >= 1.0:
            import warnings

            warnings.warn(
                "train_pq_codebooks(index=...): residual energy is "
                f"{ratio:.2f}x raw — the IVF centroids do not explain "
                "variance on this corpus, so the Faiss residual "
                "convention will HURT quantization accuracy (measured "
                "on the isotropic fixture: PQ recall 19/200 residual "
                "vs 148/200 raw, residual MSE 1.22 vs raw 0.07 — "
                "BASELINE.md, residual probe). Train without `index` "
                "and serve ann_ivfpq_topk(residual=False) unless a "
                "corpus-specific probe shows otherwise.",
                UserWarning,
                stacklevel=2,
            )
        data = _residualize(data, index, data_id, vec_col)
    dim = _vector_dim(data, vec_col)
    if dim is None:
        raise ValueError("cannot train PQ codebooks on an empty frame")
    m, d_sub = _pq_geometry(dim, int(num_subspaces))

    seeds = (
        data.orderBy(F.xxhash64(F.col(data_id).cast("string")))
        .limit(k)
        .select(
            F.col(vec_col),
            (
                F.row_number().over(
                    Window.orderBy(F.xxhash64(F.col(data_id).cast("string")))
                )
                - 1
            ).alias("_code"),
        )
    )
    books = _pq_slices(seeds, "_code", vec_col, m, d_sub).select(
        "_m", "_code", F.col("_svec").alias("_cvec")
    )

    sl = _pq_slices(
        data.select(data_id, vec_col), data_id, vec_col, m, d_sub
    )
    for _ in range(int(kmeans_iterations)):
        assigned = _nearest_code(sl, books, data_id, "_svec")
        books = _lloyd_update(assigned, ["_m", "_code"], "_svec", "_cvec")
    # Re-densify: emptied k-means cells leave gaps in the code-id
    # space ({0,3} after codes 1,2 lose every member). Relabel per
    # subspace preserving order so ids are 0..K'-1 — positional
    # consumers (ADC LUT rows, numpy book tensors) stay correct.
    dense = Window.partitionBy("_m").orderBy("_code")
    return books.select(
        "_m",
        (F.row_number().over(dense) - 1).alias("_code"),
        "_cvec",
    )


def pq_encode(
    data: DataFrame,
    codebooks: DataFrame,
    data_id: str = "vec_id",
    vec_col: str = "embedding",
    encoder: str = "native",
    index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Encode each vector as ``pq_codes`` (array<int>, one code per
    subspace — the nearest codebook entry per slice). THIS is the
    memory win: a 64-dim float64 vector (512 B) becomes M small ints
    (M bytes once written as parquet bytes), so a 10^10-vector
    corpus's index fits where the raw vectors never would.

    ``encoder='native'`` (default): subspace-slice explode →
    broadcast codebook join → min-of-struct per (id, subspace) →
    collect the M codes back into one ordered array. Two skinny
    shuffles keyed by id; the vectors themselves move once (into the
    slice explode). Ties break to the smallest code id (struct
    ordering) — deterministic on any engine, the gate path.

    ``encoder='arrow'``: one vectorized pandas_udf — per Arrow batch
    a numpy broadcast computes all B×K subspace distances and
    argmins them (~40x the native path's interpreted expressions,
    measured in BASELINE.md; map-side only, NO shuffle at all). The
    codebooks are collected to the driver first — M×K×d_sub doubles,
    KBs by construction and capped at ``_MAX_CODEBOOK_ROWS`` rows, the
    same bounded-small contract as a broadcast join. numpy argmin also
    ties to the smallest code; codes can differ from 'native' only for
    a vector equidistant to two codewords within float-sum reordering
    (~1e-15) — the same caveat as every other 'arrow' swap here.

    ``index``: encode RESIDUALS to the assigned IVF centroid (must
    match the index the codebooks were trained with — see
    :func:`_residualize`). The residual subtraction happens JVM-side
    BEFORE either encoder path, so 'native' and 'arrow' stay
    interchangeable."""
    if index is not None:
        data = _residualize(data, index, data_id, vec_col)
    dim = _vector_dim(data, vec_col) or 0
    m, d_sub = _pq_geometry(dim, codebooks=codebooks)
    if encoder == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        books = _codebook_tensor(codebooks, m, d_sub)

        def _enc(s):
            x = np.stack(s.to_numpy()).astype(np.float64)
            return pd.Series(list(_nearest_codes(x, books)))

        # explicit (fn, returnType) form: the local `pd` import is
        # invisible to the string-annotation resolver under
        # `from __future__ import annotations`
        enc_udf = pandas_udf(_enc, "array<int>")
        return data.select(
            F.col(data_id), enc_udf(F.col(vec_col)).alias("pq_codes")
        )
    if encoder != "native":
        raise ValueError(
            f"unknown encoder {encoder!r}: use 'native' or 'arrow'"
        )
    sl = _pq_slices(
        data.select(data_id, vec_col), data_id, vec_col, m, d_sub
    )
    best = _nearest_code(sl, codebooks, data_id)
    return best.groupBy(data_id).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_m", "_code"))),
            lambda s: s["_code"],
        ).alias("pq_codes")
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query,
    precompute the K×M lookup table of squared distances from each
    query SLICE to each codebook entry, then score every encoded
    vector as ``sum_m lut[m][code_m]`` — a pure array aggregate over
    M small ints per (query, vector) pair, never touching the
    original vectors. Output ``[query_id, vec_id, approx_l2sq,
    rank]`` (ascending distance; on unit-normalized input this is
    the cosine order, lossy by quantization).

    Scale shape: codebooks AND the per-query LUTs are broadcast
    (queries are a batch, the LUT is K×M doubles per query); the
    scored side streams the codes table map-side — ONE pass, no
    shuffle of the corpus beyond the final per-query top-k window
    over the broadcast-bounded candidate set. Combine with an IVF
    assignment for probe-pruned scans; the full linear ADC scan here
    is already ~64x cheaper per row than exact cosine at M=8
    (8 adds + 8 lookups vs 64 mults + adds), which is PQ's
    throughput story."""
    dim = _vector_dim(queries, vec_col) or 0
    m, d_sub = _pq_geometry(dim, codebooks=codebooks)
    qsl = _pq_slices(
        queries.select(query_id, vec_col), query_id, vec_col, m, d_sub
    )
    # LUT rows are keyed BY code id, not by sort position:
    # train_pq_codebooks re-densifies, but a caller-supplied codebook
    # (loaded index, foreign trainer) may have gaps — size each row
    # to max(code)+1 and fill gaps with +inf, exactly as the arrow
    # encoder's book tensor does, so a phantom code can never score.
    lut = (
        qsl.join(F.broadcast(codebooks), on="_m")
        .select(
            query_id,
            "_m",
            "_code",
            _l2sq("_svec", "_cvec").alias("_d"),
        )
        .groupBy(query_id, "_m")
        .agg(
            F.max("_code").alias("_maxc"),
            F.map_from_entries(
                F.collect_list(F.struct("_code", "_d"))
            ).alias("_bycode"),
        )
        .select(
            query_id,
            "_m",
            F.transform(
                F.sequence(F.lit(0), F.col("_maxc")),
                lambda i: F.coalesce(
                    F.try_element_at("_bycode", i),
                    F.lit(float("inf")),
                ),
            ).alias("_row"),
        )
        .groupBy(query_id)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_m", "_row"))),
                lambda s: s["_row"],
            ).alias("_lut")
        )
    )
    # Candidate-restricted mode (IVF-PQ): when the codes frame
    # already carries a query_id (pre-pruned candidate pairs), score
    # each pair against ITS query's LUT via an equi-join instead of
    # the full cross product.
    if query_id in codes.columns:
        scored = codes.join(F.broadcast(lut), on=query_id)
    else:
        scored = codes.crossJoin(F.broadcast(lut))
    scored = scored.select(
        query_id,
        data_id,
        F.aggregate(
            F.zip_with(
                "pq_codes",
                "_lut",
                # try_element_at + inf: a code outside the LUT row
                # (mismatched codebook) scores +inf instead of
                # erroring the whole scan under ANSI mode
                lambda c, row: F.coalesce(
                    F.try_element_at(row, c.cast("int") + 1),
                    F.lit(float("inf")),
                ),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ).alias("approx_l2sq"),
    )
    return _rank_topk(
        scored, query_id, data_id, "approx_l2sq", k, ascending=True
    )


def ann_ivfpq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    index: tuple[DataFrame, DataFrame],
    k: int = 10,
    num_probes: int = 2,
    data_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the composition that serves 10^10-vector corpora —
    the IVF coarse index (:func:`build_ivf_index`) prunes the scan to
    ``num_probes`` inverted lists, and the PQ codes (:func:`pq_encode`)
    make the pruned scan read 16-byte codes instead of full vectors,
    scored by the same broadcast ADC lookup tables as
    :func:`pq_topk`. Both index artifacts are one-time builds; write
    the (assignment ⋈ codes) table bucketed on ``data_id`` and query
    time touches ``num_probes/num_centroids`` of a 16 B/vector
    index — the standard Faiss-style serving layout, expressed as
    two broadcast joins + one window.

    ``residual=True`` — the full Faiss IVF-PQ convention: codes must
    then come from ``pq_encode(..., index=index)`` with codebooks
    from ``train_pq_codebooks(..., index=index)`` (residuals to the
    assigned centroid — a win on clustered corpora, a measured LOSS
    on isotropic ones; see :func:`_residualize`). Scoring builds one
    ADC LUT per
    (query, probed centroid) on the query's residual ``q − c`` — the
    LUT broadcast grows ×num_probes, still KBs — and since every
    data vector lives in exactly ONE inverted list, the global
    top-k per query is recovered exactly from the per-list top-k
    union by one final (tiny) re-rank window.

    Output ``[query_id, vec_id, approx_l2sq, rank]`` — rank within
    probed candidates, ascending ADC distance; recall loses both to
    probe misses (IVF) and quantization (PQ), certified by the n6
    (raw) and n7 (residual) gates against the exact scan."""
    q, q_probe, cand = _ivf_probe(
        codes, queries, index, data_id, query_id, vec_col, num_probes,
        _make_scorer("native"),
    )
    if not residual:
        return pq_topk(
            cand.select(query_id, data_id, "pq_codes"),
            queries,
            codebooks,
            k=k,
            data_id=data_id,
            query_id=query_id,
            vec_col=vec_col,
        )
    # pseudo-query per (query, probed centroid): vector = q − c, id =
    # the (query, centroid) struct — pq_topk then builds the per-list
    # residual LUTs and scores each candidate against ITS list's LUT
    # through the ordinary equi-join path, no special-casing.
    qc = F.struct(
        F.col(query_id).alias("q"), F.col("centroid_id").alias("c")
    )
    pseudo = _centroid_join(q_probe, q, index[0], query_id).select(
        qc.alias("_qc"),
        F.zip_with("_qvec", "_cvec", lambda a, b: a - b).alias(vec_col),
    )
    per_list = pq_topk(
        cand.select(qc.alias("_qc"), data_id, "pq_codes"),
        pseudo,
        codebooks,
        k=k,
        data_id=data_id,
        query_id="_qc",
        vec_col=vec_col,
    )
    merged = per_list.select(
        F.col("_qc.q").alias(query_id), data_id, "approx_l2sq"
    )
    return _rank_topk(
        merged, query_id, data_id, "approx_l2sq", k, ascending=True
    )


def mine_contrastive_pairs(
    data: DataFrame,
    anchors: "DataFrame | None" = None,
    pos_threshold: float = 0.9,
    k_neg: int = 5,
    data_id: str = "vec_id",
    vec_col: str = "embedding",
    neg_floor: "float | None" = None,
    scorer: str = "native",
    score_rounding: "int | None" = None,
) -> DataFrame:
    """Mine (anchor, positive, hard negatives) training triples for
    embedding-model training (the E5/GTE contrastive recipe): per
    anchor, the POSITIVE is its best other vector with cosine >=
    ``pos_threshold`` (near-duplicate / paraphrase tier), and the
    HARD NEGATIVES are the ``k_neg`` best vectors BELOW the
    threshold (similar enough to be informative, not similar enough
    to be false negatives) — optionally floored at ``neg_floor`` to
    skip uninformative easy negatives. Anchors with no positive are
    dropped; negatives may number fewer than ``k_neg``.

    Output: ``[anchor_id, positive_id, positive_cos, negative_ids
    (array, hardest first), negative_cos, n_negatives]``.
    Deterministic: ties break by id everywhere.

    Plan shape (the cosine_topk contract): scan(data) x
    broadcast(anchors), one window per anchor over the bounded
    candidate set — mine in ANCHOR BATCHES (``anchors`` = a slice of
    the corpus per run), which is how contrastive mining runs
    operationally anyway; an all-corpus-at-once pass at billions of
    vectors belongs on the IVF index (``ann_ivf_topk`` + a
    threshold split downstream). ``anchors=None`` uses ``data``
    itself (self-mining; the self-pair is excluded).

    ``score_rounding`` rounds the cosine to that many decimals
    BEFORE thresholding and ranking — the cross-engine
    certification hook (float summation order differs between
    engines at ~1e-15; rounding first makes threshold membership
    and rank order engine-deterministic). Leave None in production.
    """
    if k_neg < 0:
        raise ValueError(f"k_neg must be >= 0, got {k_neg}")
    score = _make_scorer(scorer)
    a_src = data if anchors is None else anchors
    a = F.broadcast(
        a_src.select(
            F.col(data_id).alias("anchor_id"),
            F.col(vec_col).alias("_avec"),
        )
    )
    cos = score("_dvec", "_avec")
    if score_rounding is not None:
        cos = F.round(cos, int(score_rounding))
    scored = (
        data.select(F.col(data_id), F.col(vec_col).alias("_dvec"))
        .crossJoin(a)
        .filter(F.col(data_id) != F.col("anchor_id"))
        .withColumn("cosine", cos)
    )
    thr = F.lit(float(pos_threshold))
    pos = _rank_topk(
        scored.filter(F.col("cosine") >= thr), "anchor_id", data_id,
        "cosine", 1,
    ).select(
        "anchor_id",
        F.col(data_id).alias("positive_id"),
        F.col("cosine").alias("positive_cos"),
    )
    negs = scored.filter(F.col("cosine") < thr)
    if neg_floor is not None:
        negs = negs.filter(F.col("cosine") >= F.lit(float(neg_floor)))
    negs = (
        _rank_topk(negs, "anchor_id", data_id, "cosine", int(k_neg))
        .groupBy("anchor_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("rank", F.col(data_id).alias("_id"), "cosine")
                )
            ).alias("_ns")
        )
        .select(
            "anchor_id",
            F.transform("_ns", lambda s: s["_id"]).alias(
                "negative_ids"
            ),
            F.transform("_ns", lambda s: s["cosine"]).alias(
                "negative_cos"
            ),
        )
    )
    empty_ids = F.array().cast(
        f"array<{data.schema[data_id].dataType.simpleString()}>"
    )
    return (
        pos.join(negs, on="anchor_id", how="left")
        .withColumn(
            "negative_ids", F.coalesce("negative_ids", empty_ids)
        )
        .withColumn(
            "negative_cos",
            F.coalesce("negative_cos", F.array().cast("array<double>")),
        )
        .withColumn(
            "n_negatives", F.size("negative_ids").cast("int")
        )
    )
