"""Golden outputs of the vector-search paths: the exact cosine scan,
LSH (single- and multi-probe), the IVF build (seed-only and with
Lloyd rounds) and IVF search (inline and prebuilt), PQ training (raw
and residual), both PQ encoders, ADC search (trained and gapped-code
codebooks), IVF-PQ (raw and residual), contrastive pair mining, the
iterative OPQ rotation and SemDeDup pairs. Each product is pinned as
the sha256 of its schema (column order, types, nullability) plus its
sorted rows, so any change to a neighbor, a rank, a score, a code or
a column moves a hash.

The corpus carries exact duplicates (ids 20-22 copy ids 0 and 1), so
many queries see score ties; every ranked path must break them to the
smaller data id. Vector entries are multiples of 1/4, so per-dimension
means sum exactly in any order."""
import hashlib
import json
import warnings

import numpy as np
import pytest

GOLDEN = {
    'cosine_topk': '370f211d5cd244488658f949e7a7319f8f65833e7ccba81fd7b2c7bc6953be5a',
    'lsh.probes1': 'a08d9cc8696cc784ef0c0ab377ba801ba0b834148aaa38eb34577f5a66220930',
    'lsh.probes3': '384b8192a609ce17d2483c9ffb80ea3f124fa8b7ce4803ffbb902bc85973b674',
    'ivf_index.iters0.centroids': '0580fb2b5b49618c0bf25061fd2f0005afad7f5ba641a47f80ccbe5eb1eda3ab',
    'ivf_index.iters0.assignment': '10ac1dbfae7ae8433e139b5f5c7de437229ca57637965559241f67d9d0a953f1',
    'ivf_index.iters2.centroids': 'cd9941483bb15fb9cc153751e16e342a31c288028c598c05d178f5595d02ccb7',
    'ivf_index.iters2.assignment': 'cdb80266e98067d2d096b865aad17fc6d3de41285daa95ed5e61e9f5db7e93d6',
    'ivf_topk': 'c8513c08627c465571f17cc4791ee24a978277e24facebed9ae704bf7449b1e2',
    'pq_books.raw': '71f7a2ee6bf1ad2c4b89df0e6cc578317f8b72f282cd576c359d6099680c8d34',
    'pq_books.residual': '43ac66ab8e215184bbcbbf7317cb78d428eb5b0f85588252e83e1ef5b3d1471c',
    'pq_encode.native': 'cdcd6c0cde19a4475e5b1d8f51f7c9db025f96268a53692b68133ef95923ddbc',
    'pq_encode.arrow': '5dd305fe9366c750653a98cfde2a8c3674c3c15dda82b6bb14a0942e9b030df7',
    'pq_topk': 'bc5054d0fce3c67cffaeea549d8e351c073b65ca957ce2b283b92fc29af619d1',
    'pq_topk.gapped': '182ec1914e30bbdca417cd21e245d0b046822ece29ed08d5cfb7b414005510d7',
    'ivfpq.raw': '6afbd26e6fac9783aace6447f6c4042e036413a61474184059950f4662941b74',
    'ivfpq.residual': 'e5275ba0eb2a57acd1b6e27baf2170506742e6b6f01b420616bc3fc6898ff67f',
    'contrastive': '78df91db1224c21b79cebe4f5f2d337b401e2aeb3a13db9e25953ee6acca2d1f',
    'contrastive.floor': 'dea463783c09a3e148af3cdc1ce4d404a147b63787d687f490269a50b978e82c',
    'opq.components': '47b8a34be7e709ef05259d0808835ee27f7db2fa332315abba7dee30023ff213',
    'opq.history': 'ce8683b08aa2a32409fa7e4cfc5c0efbe89678db7e50dfb0c63fbe57fe1e7b11',
    'semantic_pairs': '7c3fa46b1bf85c7a029cfe1a8b7b6bd2e4d9ad0db3ac9d70b7738ce3a6c42bba',
}

SCHEMA = "vec_id long, embedding array<double>"
Q_SCHEMA = "query_id long, embedding array<double>"


def _sha(df) -> str:
    rows = sorted(
        json.dumps(list(r), default=str) for r in df.collect()
    )
    blob = json.dumps([df.schema.jsonValue(), rows])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _sha_obj(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode("utf-8")).hexdigest()


def _check(got: dict) -> None:
    want = {k: GOLDEN.get(k) for k in got}
    assert got == want


def _corpus():
    """Ids 0-19: 8-dim vectors with entries in {-1, -0.75, ..., 1}
    (no zero vector); ids 20 and 21 copy id 0, id 22 copies id 1;
    ids 23-25 are small edits of ids 2-4."""
    rng = np.random.default_rng(17)
    vecs = {}
    for i in range(20):
        v = rng.integers(-4, 5, size=8) * 0.25
        if not v.any():
            v[0] = 0.25
        vecs[i] = v
    vecs[20] = vecs[0].copy()
    vecs[21] = vecs[0].copy()
    vecs[22] = vecs[1].copy()
    for k in range(3):
        v = vecs[2 + k].copy()
        v[k] += 0.25
        vecs[23 + k] = v
    return [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())]


@pytest.fixture(scope="module")
def data(spark):
    return spark.createDataFrame(_corpus(), SCHEMA)


@pytest.fixture(scope="module")
def queries(spark):
    rows = _corpus()
    # queries 0 and 1 equal corpus vectors with duplicates (ties at
    # the top), query 2 is a corpus vector plus a nudge, query 3 new
    q = [
        (0, rows[0][1]),
        (1, rows[1][1]),
        (2, [x + 0.25 * (j % 2) for j, x in enumerate(rows[5][1])]),
        (3, [0.5, -0.25, 0.75, 0.0, -1.0, 0.25, 0.5, -0.5]),
    ]
    return spark.createDataFrame(q, Q_SCHEMA)


def _rows(df):
    return sorted(json.dumps(list(r), default=str) for r in df.collect())


def test_cosine_topk(data, queries):
    from polaroam_spark.operators.similarity import cosine_topk

    _check({"cosine_topk": _sha(cosine_topk(data, queries, k=3))})


@pytest.mark.parametrize("probes", [1, 3])
def test_lsh(data, queries, probes):
    from polaroam_spark.operators.similarity import ann_lsh_topk

    _check(
        {
            f"lsh.probes{probes}": _sha(
                ann_lsh_topk(
                    data, queries, k=3, num_planes=4, num_probes=probes
                )
            )
        }
    )


@pytest.mark.parametrize("iters", [0, 2])
def test_ivf_index(data, iters):
    from polaroam_spark.operators.similarity import build_ivf_index

    centroids, assignment = build_ivf_index(
        data, num_centroids=4, kmeans_iterations=iters
    )
    _check(
        {
            f"ivf_index.iters{iters}.centroids": _sha(centroids),
            f"ivf_index.iters{iters}.assignment": _sha(assignment),
        }
    )


@pytest.mark.parametrize("prebuilt", [False, True])
def test_ivf_topk(data, queries, prebuilt):
    from polaroam_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
    )

    if prebuilt:
        index = build_ivf_index(data, num_centroids=4, kmeans_iterations=2)
        out = ann_ivf_topk(data, queries, k=3, num_probes=2, index=index)
    else:
        out = ann_ivf_topk(
            data, queries, k=3, num_centroids=4, num_probes=2,
            kmeans_iterations=2,
        )
    # both forms build the same index, so they pin the same hash
    _check({"ivf_topk": _sha(out)})


def _train(data, index=None):
    from polaroam_spark.operators.similarity import train_pq_codebooks

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        return train_pq_codebooks(
            data, num_subspaces=2, codes_per_subspace=4,
            kmeans_iterations=2, index=index,
        )


def _local(df):
    """The same rows and schema without the lineage, so a product
    pinned by one test is not recomputed inside every later one."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


@pytest.fixture(scope="module")
def index(data):
    from polaroam_spark.operators.similarity import build_ivf_index

    return tuple(_local(f) for f in build_ivf_index(data, num_centroids=4))


@pytest.fixture(scope="module")
def books(data):
    return _local(_train(data))


@pytest.fixture(scope="module")
def res_books(data, index):
    return _local(_train(data, index))


@pytest.fixture(scope="module")
def codes(data, books):
    from polaroam_spark.operators.similarity import pq_encode

    return _local(pq_encode(data, books))


@pytest.fixture(scope="module")
def res_codes(data, index, res_books):
    from polaroam_spark.operators.similarity import pq_encode

    return _local(pq_encode(data, res_books, index=index))


def test_pq_train_raw(books):
    _check({"pq_books.raw": _sha(books)})


def test_pq_train_residual(res_books):
    _check({"pq_books.residual": _sha(res_books)})


@pytest.mark.parametrize("encoder", ["native", "arrow"])
def test_pq_encode(data, books, encoder):
    from polaroam_spark.operators.similarity import pq_encode

    codes = pq_encode(data, books, encoder=encoder)
    _check({f"pq_encode.{encoder}": _sha(codes)})
    if encoder == "arrow":
        assert _rows(codes) == _rows(pq_encode(data, books))


def test_pq_topk(queries, books, codes):
    from polaroam_spark.operators.similarity import pq_topk

    _check({"pq_topk": _sha(pq_topk(codes, queries, books, k=3))})


def test_pq_topk_gapped_codes(spark, data, queries):
    from polaroam_spark.operators.similarity import pq_encode, pq_topk

    # hand-built codebook with code ids {0, 2, 5} in each subspace
    gapped = spark.createDataFrame(
        [
            (m, c, [float(x) for x in v])
            for m in range(2)
            for c, v in zip(
                (0, 2, 5),
                ([0.5, 0.0, -0.5, 0.25], [-0.5, 0.5, 0.0, -0.25],
                 [0.0, -0.5, 0.5, 0.5]),
            )
        ],
        "_m int, _code int, _cvec array<double>",
    )
    codes = _local(pq_encode(data, gapped))
    _check({"pq_topk.gapped": _sha(pq_topk(codes, queries, gapped, k=3))})


@pytest.mark.parametrize("residual", [False, True])
def test_ivfpq(request, queries, index, residual):
    from polaroam_spark.operators.similarity import ann_ivfpq_topk

    tag = "residual" if residual else "raw"
    bk, cd = (
        request.getfixturevalue(f)
        for f in (("res_books", "res_codes") if residual else ("books", "codes"))
    )
    _check(
        {
            f"ivfpq.{tag}": _sha(
                ann_ivfpq_topk(
                    cd, queries, bk, index, k=3, num_probes=1,
                    residual=residual,
                )
            )
        }
    )


@pytest.mark.parametrize("floor", [None, 0.25])
def test_contrastive_pairs(data, floor):
    from polaroam_spark.operators.similarity import mine_contrastive_pairs

    tag = "contrastive" if floor is None else "contrastive.floor"
    _check(
        {
            tag: _sha(
                mine_contrastive_pairs(
                    data, pos_threshold=0.9, k_neg=6, neg_floor=floor
                )
            )
        }
    )


def test_opq_iterative(data):
    from polaroam_spark.operators.vectors import fit_pq_rotation_iterative

    model = fit_pq_rotation_iterative(
        data, num_subspaces=2, codes_per_subspace=4, iterations=2,
        kmeans_iterations=1,
    )
    _check(
        {
            "opq.components": _sha_obj(
                np.round(model["components"], 9).tolist()
            ),
            "opq.history": _sha_obj(
                [[n, round(mse, 9)] for n, mse in model["history"]]
            ),
        }
    )


def test_semantic_pairs(data):
    from polaroam_spark.operators.dedup import semantic_pairs

    _check(
        {
            "semantic_pairs": _sha(
                semantic_pairs(
                    data, num_clusters=4, threshold=0.8,
                    kmeans_iterations=1,
                )
            )
        }
    )
