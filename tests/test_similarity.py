"""Similarity search: brute-force exactness, ANN recall properties."""

import math

import pyspark.sql.functions as F
import pytest

from polaroam_spark.operators.similarity import (
    add_lsh_bucket,
    ann_lsh_topk,
    cosine_topk,
)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (i, (rng.standard_normal(8) / 4).tolist()) for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_bruteforce_self_is_rank_one(vectors):
    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(vectors, q, k=5).collect()
    rank1 = {r.query_id: (r.vec_id, r.cosine) for r in out if r.rank == 1}
    for qid, (vid, cos) in rank1.items():
        assert vid == qid
        assert abs(cos - 1.0) < 1e-9


def test_bruteforce_matches_python(vectors):
    data = {r.vec_id: r.embedding for r in vectors.collect()}
    q = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sorted(
        [(r.rank, r.vec_id) for r in cosine_topk(vectors, q, k=3).collect()]
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    expected = sorted(
        data, key=lambda v: (-cos(data[0], data[v]), v)
    )[:3]
    assert [v for _, v in out] == expected


def test_lsh_bucket_deterministic(vectors):
    a = {r.vec_id: r.lsh_bucket for r in add_lsh_bucket(vectors).collect()}
    b = {r.vec_id: r.lsh_bucket for r in add_lsh_bucket(vectors).collect()}
    assert a == b
    assert all(0 <= v < 256 for v in a.values())  # 8 planes -> 8 bits


def test_ivf_results_are_true_cosines(vectors):
    from polaroam_spark.operators.similarity import ann_ivf_topk

    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_topk(vectors, q, k=40).collect()
    }
    ivf = ann_ivf_topk(
        vectors, q, k=5, num_centroids=8, num_probes=3
    ).collect()
    assert len(ivf) > 0
    for r in ivf:
        assert abs(exact[(r.query_id, r.vec_id)] - r.cosine) < 1e-9
    # the query vector itself lives in its own nearest-centroid list,
    # which is always probed -> self at rank 1
    rank1 = {r.query_id: r.vec_id for r in ivf if r.rank == 1}
    assert all(qid == vid for qid, vid in rank1.items())


def test_ann_results_are_true_cosines(vectors):
    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_topk(vectors, q, k=40).collect()
    }
    ann = ann_lsh_topk(vectors, q, k=5, num_planes=4, num_probes=3).collect()
    for r in ann:
        assert abs(exact[(r.query_id, r.vec_id)] - r.cosine) < 1e-9
    # self always lands in its own bucket -> rank 1 is the query itself
    rank1 = {r.query_id: r.vec_id for r in ann if r.rank == 1}
    assert all(qid == vid for qid, vid in rank1.items())


@pytest.fixture(scope="module")
def sf_embeddings(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )


def _topsets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def _recall(exact, approx, k=10):
    return sum(
        len(exact[q] & approx.get(q, set())) for q in exact
    ) / (k * len(exact))


@pytest.mark.slow
def test_ann_recall_floors(spark, sf_embeddings):
    """recall@10 of the ANN paths vs brute force on the synthetic
    embeddings — floors make probe-parameter regressions visible
    (everything is deterministic, so these numbers are stable)."""
    from polaroam_spark.operators.similarity import ann_ivf_topk

    q = sf_embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _topsets(cosine_topk(sf_embeddings, q, k=10))

    lsh1 = _topsets(
        ann_lsh_topk(sf_embeddings, q, k=10, num_planes=5, num_probes=1)
    )
    lsh = _topsets(
        ann_lsh_topk(sf_embeddings, q, k=10, num_planes=5, num_probes=12)
    )
    r_lsh1, r_lsh = _recall(exact, lsh1), _recall(exact, lsh)
    # multi-probe must strictly beat the single-bucket probe
    assert r_lsh > r_lsh1
    assert r_lsh >= 0.6, f"LSH recall@10 regressed: {r_lsh}"

    ivf0 = _topsets(
        ann_ivf_topk(
            sf_embeddings, q, k=10, num_centroids=8, num_probes=4
        )
    )
    ivf3 = _topsets(
        ann_ivf_topk(
            sf_embeddings,
            q,
            k=10,
            num_centroids=8,
            num_probes=4,
            kmeans_iterations=3,
        )
    )
    r_ivf0, r_ivf3 = _recall(exact, ivf0), _recall(exact, ivf3)
    assert r_ivf3 >= 0.7, f"IVF recall@10 regressed: {r_ivf3}"
    assert r_ivf3 >= r_ivf0  # Lloyd training must not hurt


@pytest.mark.slow
def test_ivf_prebuilt_index_matches_inline(vectors):
    from polaroam_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
    )

    q = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = ann_ivf_topk(
        vectors, q, k=5, num_centroids=8, num_probes=3,
        kmeans_iterations=1,
    )
    idx = build_ivf_index(
        vectors, num_centroids=8, kmeans_iterations=1
    )
    prebuilt = ann_ivf_topk(vectors, q, k=5, num_probes=3, index=idx)
    a = sorted((r.query_id, r.vec_id, r.rank) for r in inline.collect())
    b = sorted((r.query_id, r.vec_id, r.rank) for r in prebuilt.collect())
    assert a == b and len(a) == 20


@pytest.mark.slow
def test_arrow_scorer_matches_native(vectors):
    from polaroam_spark.operators.similarity import ann_ivf_topk

    q = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for fn, kw in (
        (cosine_topk, {}),
        (ann_lsh_topk, dict(num_planes=4, num_probes=4)),
        (ann_ivf_topk, dict(num_centroids=8, num_probes=3)),
    ):
        nat = {
            (r.query_id, r.vec_id): (r.cosine, r.rank)
            for r in fn(vectors, q, k=5, **kw).collect()
        }
        arr = {
            (r.query_id, r.vec_id): (r.cosine, r.rank)
            for r in fn(vectors, q, k=5, scorer="arrow", **kw).collect()
        }
        assert set(nat) == set(arr), fn.__name__
        for key, (c, rank) in nat.items():
            ca, ranka = arr[key]
            assert rank == ranka and abs(c - ca) < 1e-12, (fn.__name__, key)


def test_arrow_bucketer_matches_native(spark):
    from polaroam_spark.operators.similarity import add_lsh_bucket

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    nat = add_lsh_bucket(emb, "embedding", 8).select(
        "vec_id", F.col("lsh_bucket").alias("b_nat")
    )
    arr = add_lsh_bucket(
        emb, "embedding", 8, bucketer="arrow"
    ).select("vec_id", F.col("lsh_bucket").alias("b_arr"))
    j = nat.join(arr, "vec_id")
    assert j.filter(F.col("b_nat") != F.col("b_arr")).count() == 0


def test_bad_bucketer_raises(spark):
    from polaroam_spark.operators.similarity import add_lsh_bucket

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    with pytest.raises(ValueError, match="bucketer"):
        add_lsh_bucket(emb, "embedding", 8, bucketer="numpy")


def test_arrow_bucketer_null_embedding_matches_native(spark):
    from polaroam_spark.operators.similarity import add_lsh_bucket

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, None), (3, [-0.3, 0.4])],
        "vec_id long, embedding array<float>",
    )
    nat = {
        r.vec_id: r.lsh_bucket
        for r in add_lsh_bucket(df, "embedding", 4).collect()
    }
    arr = {
        r.vec_id: r.lsh_bucket
        for r in add_lsh_bucket(
            df, "embedding", 4, bucketer="arrow"
        ).collect()
    }
    assert nat == arr
    assert arr[2] == 0


def test_ivf_prebuilt_index_rejects_build_params(spark):
    from polaroam_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    q = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = build_ivf_index(emb, num_centroids=8)
    with pytest.raises(ValueError, match="prebuilt"):
        ann_ivf_topk(emb, q, k=3, num_centroids=8, index=idx)


def test_embedding_similarity_join_cross_table(spark):
    from polaroam_spark.operators.similarity import (
        embedding_similarity_join,
    )

    left = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    right = spark.createDataFrame(
        [
            (10, [0.999, 0.01, 0.0]),   # ~= left 1
            (20, [0.0, -1.0, 0.0]),     # opposite of left 2
            (30, [0.0, 0.98, 0.1]),     # ~= left 2
        ],
        "rid long, emb array<double>",
    )
    pairs = {
        (r.left_id, r.right_id): r.cosine
        for r in embedding_similarity_join(
            left,
            right,
            right_id="rid",
            right_vec="emb",
            cosine_threshold=0.9,
            num_planes=4,
        ).collect()
    }
    assert (1, 10) in pairs and pairs[(1, 10)] > 0.99
    assert (2, 30) in pairs
    assert all(rid != 20 for (_, rid) in pairs)  # anti-parallel excluded


# ------------------------------------------------------------------ PQ
@pytest.mark.slow
def test_pq_roundtrip_clustered(spark):
    """Two tight clusters: every member encodes to its cluster's
    codes, and ADC top-k ranks cluster-mates above the other blob."""
    from polaroam_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    rows = []
    for i in range(8):
        base = [1.0, 0.0, 0.0, 1.0] if i < 4 else [0.0, 1.0, 1.0, 0.0]
        rows.append((i, [b + (i % 4) * 1e-3 for b in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_pq_codebooks(
        emb, num_subspaces=2, codes_per_subspace=2, kmeans_iterations=2
    )
    assert books.count() == 4  # 2 subspaces x 2 codes
    codes = pq_encode(emb, books)
    got = {r.vec_id: tuple(r.pq_codes) for r in codes.collect()}
    assert all(len(c) == 2 for c in got.values())
    # cluster members share a codeword; clusters differ
    assert len({got[i] for i in range(4)}) == 1
    assert len({got[i] for i in range(4, 8)}) == 1
    assert got[0] != got[4]

    q = emb.filter(F.col("vec_id").isin(0, 4)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pq_topk(codes, q, books, k=4).collect()
    for r in top:
        same_blob = (r.vec_id < 4) == (r.query_id < 4)
        assert same_blob, (r.query_id, r.vec_id, r.rank)


def test_pq_validation_errors(spark):
    import pytest

    from polaroam_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, num_subspaces=2)
    books = train_pq_codebooks(emb, num_subspaces=3, codes_per_subspace=1)
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="does not divide"):
        pq_encode(bad, books)

    from polaroam_spark.operators.similarity import pq_topk

    emb4 = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), 1.0])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books4 = spark.createDataFrame(
        [(m, c, [float(c), float(m)]) for m in range(2) for c in range(3)],
        "_m int, _code int, _cvec array<double>",
    )
    # subspace 0 dropped: both encoders must refuse, like pq_topk
    gapped = books4.filter(F.col("_m") == 1)
    for encoder in ("native", "arrow"):
        with pytest.raises(ValueError, match="every subspace"):
            pq_encode(emb4, gapped, encoder=encoder)
    empty = books4.limit(0)
    with pytest.raises(ValueError, match="codebooks are empty"):
        pq_encode(emb4, empty)
    q = emb4.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="codebooks are empty"):
        pq_topk(emb4.select("vec_id", F.array().alias("pq_codes")), q, empty)
    with pytest.raises(ValueError, match="num_subspaces must be >= 1"):
        train_pq_codebooks(emb4, num_subspaces=0)
    with pytest.raises(ValueError, match="codes_per_subspace must be >= 1"):
        train_pq_codebooks(emb4, num_subspaces=2, codes_per_subspace=0)


@pytest.mark.slow
def test_pq_deterministic(spark):
    from polaroam_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    a = train_pq_codebooks(emb, num_subspaces=4, codes_per_subspace=4)
    b = train_pq_codebooks(emb, num_subspaces=4, codes_per_subspace=4)
    ca = sorted((r.vec_id, tuple(r.pq_codes)) for r in pq_encode(emb, a).collect())
    cb = sorted((r.vec_id, tuple(r.pq_codes)) for r in pq_encode(emb, b).collect())
    assert ca == cb


@pytest.mark.slow
def test_pq_encode_arrow_matches_native(spark):
    from polaroam_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 13 + j * 5) % 17) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    books = train_pq_codebooks(emb, num_subspaces=4, codes_per_subspace=8)
    nat = sorted(
        (r.vec_id, tuple(r.pq_codes))
        for r in pq_encode(emb, books).collect()
    )
    arw = sorted(
        (r.vec_id, tuple(r.pq_codes))
        for r in pq_encode(emb, books, encoder="arrow").collect()
    )
    assert nat == arw
    import pytest

    with pytest.raises(ValueError, match="unknown encoder"):
        pq_encode(emb, books, encoder="fast")


@pytest.mark.slow
def test_pq_codebooks_densify_after_empty_cells(spark):
    """Duplicate vectors routinely empty k-means cells during the
    Lloyd round; trained codebooks must come back with DENSE per-
    subspace code ids 0..K'-1 so positional consumers (ADC LUT rows,
    the arrow book tensor) stay correct."""
    from polaroam_spark.operators.similarity import train_pq_codebooks

    # 20 copies of the same vector: K=4 seeds collapse to one
    # surviving codeword per subspace after a Lloyd round
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books = train_pq_codebooks(
        emb, num_subspaces=2, codes_per_subspace=4, kmeans_iterations=2
    )
    for m_val, codes in (
        (r["_m"], r["codes"])
        for r in books.groupBy("_m")
        .agg(F.array_sort(F.collect_list("_code")).alias("codes"))
        .collect()
    ):
        assert codes == list(range(len(codes))), (m_val, codes)


def test_pq_topk_nondense_codebook_scores_correctly(spark):
    """A caller-supplied codebook with gapped code ids ({0, 3} — a
    foreign trainer, a filtered index) must score by ACTUAL code id:
    the positional-LUT bug either threw INVALID_ARRAY_INDEX under
    ANSI or silently used the wrong code's distance."""
    from polaroam_spark.operators.similarity import pq_topk

    # 1 subspace, 2 codewords with non-dense ids 0 and 3
    books = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 3, [10.0, 10.0])],
        "_m int, _code int, _cvec array<double>",
    )
    codes = spark.createDataFrame(
        [(1, [0]), (2, [3])], "vec_id long, pq_codes array<int>"
    )
    q = spark.createDataFrame(
        [(100, [10.0, 10.0])], "query_id long, embedding array<double>"
    )
    got = {
        r.vec_id: (r.approx_l2sq, r.rank)
        for r in pq_topk(codes, q, books, k=2).collect()
    }
    # query sits ON codeword 3: vec 2 must rank first at distance 0,
    # vec 1 at l2sq = 10^2 + 10^2 = 200
    assert got[2] == (0.0, 1), got
    assert got[1] == (200.0, 2), got


@pytest.mark.slow
def test_ivfpq_prunes_and_finds_neighbors(spark):
    """IVF-PQ composition: candidates are restricted to the probed
    inverted lists, and with probes covering the query's own cluster
    the top-k finds the cluster-mates."""
    from polaroam_spark.operators.similarity import (
        ann_ivfpq_topk,
        build_ivf_index,
        pq_encode,
        train_pq_codebooks,
    )

    rows = []
    for i in range(30):
        blob = i % 3
        base = {0: [10.0, 0.0], 1: [0.0, 10.0], 2: [-10.0, -10.0]}[blob]
        rows.append((i, [base[0] + (i % 10) * 0.01, base[1] + (i % 7) * 0.01]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = build_ivf_index(emb, num_centroids=3, kmeans_iterations=2)
    books = train_pq_codebooks(
        emb, num_subspaces=2, codes_per_subspace=4, kmeans_iterations=2
    )
    codes = pq_encode(emb, books)
    q = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_ivfpq_topk(codes, q, books, index, k=5, num_probes=1).collect()
    assert len(out) == 10  # 5 per query
    for r in out:
        # probes=1 with 3 well-separated blobs: every candidate comes
        # from the query's own blob
        assert r.vec_id % 3 == r.query_id % 3, (r.query_id, r.vec_id)


@pytest.mark.slow
def test_ivfpq_residual_lossless_exact(spark):
    """The strongest correctness pin for the residual IVF-PQ path:
    with a FULL-corpus codebook (every vector a seed, zero Lloyd
    rounds) each data slice encodes to itself, so the per-list
    residual ADC distance equals the exact L2 — probing every list
    must therefore reproduce the exact top-10 on all queries. Any
    error in the residual plumbing (wrong centroid subtracted,
    per-list LUT keyed to the wrong probe, re-rank losing a list)
    breaks the equality."""
    from polaroam_spark.functions.vectors import l2_normalize
    from polaroam_spark.operators.similarity import (
        ann_ivfpq_topk,
        build_ivf_index,
        cosine_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(120)
        .select("vec_id", l2_normalize("embedding").alias("embedding"))
    )
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index = build_ivf_index(emb, num_centroids=4)
    books = train_pq_codebooks(
        emb, num_subspaces=4, codes_per_subspace=n,
        kmeans_iterations=0, index=index,
    )
    codes = pq_encode(emb, books, index=index)
    ann = ann_ivfpq_topk(
        codes, q, books, index, k=10, num_probes=4, residual=True
    ).select("query_id", "vec_id")
    exact = cosine_topk(emb, q, k=10).select("query_id", "vec_id")
    missed = exact.join(
        ann, on=["query_id", "vec_id"], how="left_anti"
    ).count()
    assert missed == 0


@pytest.mark.slow
def test_residual_convention_warns_on_isotropic_corpus(spark):
    """VERDICT r10 #6: training residual codebooks on a corpus whose
    IVF centroids do not explain variance must emit the one-aggregate
    diagnostic warning (the r10 probe measured an 8x recall loss for
    the residual convention on exactly this fixture class), while a
    genuinely clustered corpus trains silently."""
    import warnings

    from polaroam_spark.operators.similarity import (
        build_ivf_index,
        train_pq_codebooks,
    )

    # isotropic: random unit directions in 64 dims with UNREFINED
    # sampled-vector centroids — the r10 probe's regime: the nearest
    # of k random unit centroids sits at cosine ≈ 0.4, so
    # ‖x − c‖² ≈ 2 − 2cos > 1 = ‖x‖²
    import math
    import random

    rnd = random.Random(7)

    def _unit(d):
        v = [rnd.gauss(0.0, 1.0) for _ in range(d)]
        s = math.sqrt(sum(x * x for x in v))
        return [x / s for x in v]

    iso = spark.createDataFrame(
        [(i, _unit(64)) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    idx = build_ivf_index(iso, num_centroids=8, kmeans_iterations=0)
    with warnings.catch_warnings(record=True) as wl:
        warnings.simplefilter("always")
        train_pq_codebooks(
            iso, num_subspaces=4, codes_per_subspace=4, index=idx
        ).collect()
    assert any(
        "residual energy" in str(x.message)
        and issubclass(x.category, UserWarning)
        for x in wl
    ), [str(x.message) for x in wl]

    # clustered: three tight, well-separated blobs — residuals to the
    # blob centroids carry far less energy than the raw vectors
    rows = []
    for i in range(120):
        base = {0: [50.0] * 8, 1: [-50.0] * 8, 2: [0.0] * 8}[i % 3]
        rows.append(
            (i, [b + rnd.gauss(0.0, 0.1) for b in base])
        )
    clus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx2 = build_ivf_index(clus, num_centroids=3, kmeans_iterations=3)
    with warnings.catch_warnings(record=True) as wl2:
        warnings.simplefilter("always")
        train_pq_codebooks(
            clus, num_subspaces=4, codes_per_subspace=4, index=idx2
        ).collect()
    assert not any(
        "residual energy" in str(x.message) for x in wl2
    ), [str(x.message) for x in wl2]


# ---- contrastive pair mining ----------------------------------------


def _cp_fixture(spark):
    # 0/1 near-identical (pos pair); 2 similar-but-below; 3 orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.045, 0.0]),
        (2, [0.8, 0.6, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_contrastive_pairs_basic(spark):
    from polaroam_spark.operators.similarity import (
        mine_contrastive_pairs,
    )

    df = _cp_fixture(spark)
    out = {
        r.anchor_id: r
        for r in mine_contrastive_pairs(
            df, pos_threshold=0.95, k_neg=2
        ).collect()
    }
    # anchors 0 and 1 find each other as positives
    assert out[0].positive_id == 1 and out[1].positive_id == 0
    assert out[0].positive_cos > 0.95
    # hardest negative for 0 is 2 (cos 0.8), then 3 (cos 0)
    assert list(out[0].negative_ids) == [2, 3]
    assert out[0].n_negatives == 2
    assert out[0].negative_cos[0] > out[0].negative_cos[1]
    # anchors 2 and 3 have no positive above 0.95 -> dropped
    assert set(out) == {0, 1}


def test_contrastive_pairs_neg_floor_and_empty(spark):
    from polaroam_spark.operators.similarity import (
        mine_contrastive_pairs,
    )

    df = _cp_fixture(spark)
    out = {
        r.anchor_id: r
        for r in mine_contrastive_pairs(
            df, pos_threshold=0.95, k_neg=2, neg_floor=0.5
        ).collect()
    }
    # floor drops the orthogonal vector from negatives
    assert list(out[0].negative_ids) == [2]
    # k_neg=0 yields empty arrays, rows kept
    none = {
        r.anchor_id: r
        for r in mine_contrastive_pairs(
            df, pos_threshold=0.95, k_neg=0
        ).collect()
    }
    assert list(none[0].negative_ids) == []
    assert none[0].n_negatives == 0
    import pytest as _pt

    with _pt.raises(ValueError):
        mine_contrastive_pairs(df, k_neg=-1)


def test_contrastive_pairs_anchor_batch(spark):
    import pyspark.sql.functions as F

    from polaroam_spark.operators.similarity import (
        mine_contrastive_pairs,
    )

    df = _cp_fixture(spark)
    batch = df.filter(F.col("vec_id") == 0)
    out = mine_contrastive_pairs(
        df, anchors=batch, pos_threshold=0.95, k_neg=3
    ).collect()
    assert len(out) == 1 and out[0].anchor_id == 0
    # self excluded even though anchor is in data
    assert 0 not in set(out[0].negative_ids)
    assert out[0].positive_id == 1


def test_ivf_rejects_empty_probe_settings(vectors):
    """num_probes or num_centroids below 1 would scan no list and
    return nothing; every IVF entry point raises instead."""
    from polaroam_spark.operators.dedup import semantic_pairs
    from polaroam_spark.operators.similarity import (
        ann_ivf_topk,
        ann_ivfpq_topk,
        build_ivf_index,
    )

    q = vectors.limit(3).withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="num_probes must be >= 1"):
        ann_ivf_topk(vectors, q, num_probes=0)
    with pytest.raises(ValueError, match="num_centroids must be >= 1"):
        ann_ivf_topk(vectors, q, num_centroids=0)
    with pytest.raises(ValueError, match="num_centroids must be >= 1"):
        semantic_pairs(vectors, num_clusters=0)
    index = build_ivf_index(vectors, num_centroids=4)
    codes = vectors.select("vec_id", F.array(F.lit(0)).alias("pq_codes"))
    books = vectors.limit(1).select(
        F.lit(0).alias("_m"), F.lit(0).alias("_code"),
        F.col("embedding").alias("_cvec"),
    )
    with pytest.raises(ValueError, match="num_probes must be >= 1"):
        ann_ivfpq_topk(codes, q, books, index, num_probes=0)


def test_codebook_collect_is_bounded(spark, monkeypatch):
    from polaroam_spark.operators import similarity
    from polaroam_spark.operators.similarity import (
        _codebook_tensor,
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 7), 1.0])
         for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books = train_pq_codebooks(
        emb, num_subspaces=2, codes_per_subspace=4, kmeans_iterations=0
    )
    books = spark.createDataFrame(books.collect(), books.schema)
    assert _codebook_tensor(books, 2, 2).shape == (2, 4, 2)
    monkeypatch.setattr(similarity, "_MAX_CODEBOOK_ROWS", 7)
    with pytest.raises(ValueError, match="exceed 7 rows"):
        _codebook_tensor(books, 2, 2)
    with pytest.raises(ValueError, match="exceed 7 rows"):
        pq_encode(emb, books, encoder="arrow")
    monkeypatch.setattr(similarity, "_MAX_CODEBOOK_ROWS", 8)
    assert _codebook_tensor(books, 2, 2).shape == (2, 4, 2)
