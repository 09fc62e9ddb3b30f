"""Golden outputs of the bucketed pair generators: MinHash LSH pairs
(portable and folded shingles, with a hot bucket), the incremental
index probe (with and without a supplied band table, with and without
batch-internal pairs), the fuzzy text join, SimHash and raw
fingerprint Hamming pairs, embedding near-dup pairs and the two-table
embedding join (hot buckets on both sides), plus the greedy survivor
rules and the n-gram pair scorers. Each product is pinned as the
sha256 of its schema (column order, types, nullability) plus its
sorted rows, so any change to a pair, a score, a column or its order
moves a hash. Every hot case is also checked against the same call
with a large ``max_bucket_size``, so the data provably exercises the
hot-bucket path."""
import hashlib
import json

import numpy as np
import pytest

GOLDEN = {
    'minhash.xx64.hot': 'b1dd342f650bcec35e1bf3295e575936f7f23473702ead7c3c78dc3acd6dd585',
    'minhash.xx64.cold': '4925e4b8e7a8da81598f0bc748128f26efb6556f2c151d8e7749d83c0640772e',
    'minhash.str.hot': '7703215c2353392bda0b840d5722d41e4ba6e76bfb2bbd47589d7b59eb0cf520',
    'minhash.str.cold': 'bbe42b8d1f5ebbf8b35b6b8d770d8dc1933e6d6a131b2b5fda603ef21ed0168d',
    'dedup_minhash.hot': '45de6164ec90a0fc5a304f77c26559aaf8223950d70d449ca67e5adfcb87ac8b',
    'near_dedup.greedy.hot': '45de6164ec90a0fc5a304f77c26559aaf8223950d70d449ca67e5adfcb87ac8b',
    'incremental.auto.batch': '2b4424fc7090ebfc0d940250adaaf27b6aca15b166d07131be7ef38a7c9fcfca',
    'incremental.auto.corpus_only': '785ba440a131d1660ec17e743eb7ed3acc4e2a55ba0470dbdead8704e0c2ef33',
    'incremental.supplied.batch': '2b4424fc7090ebfc0d940250adaaf27b6aca15b166d07131be7ef38a7c9fcfca',
    'incremental.supplied.corpus_only': '785ba440a131d1660ec17e743eb7ed3acc4e2a55ba0470dbdead8704e0c2ef33',
    'incremental.cold.batch': 'cbc396ef89f6a77c545c1676ecfac3c2a592469da1c861222446c51ee7f1b6c8',
    'dedup_incremental.hot': '0d50be522a8913630a258bafcdbd77409345bec317d811d2fd9b89647822d747',
    'fuzzy_join.hot': 'fcaea33c4f61aaacf68354f491f90b05913e5a424aafbd9e46a97cfe44c0e176',
    'fuzzy_join.cold': '63ed167df0e8f02f443e2f66e3d2eae9cdafc982fe8098b2ef011bb842d05dfd',
    'simhash.xx64.hot': 'dd1f02babfa862a1374d9d72ac601b2f42466d0dace2d94916f5168d0f330901',
    'simhash.xx64.cold': '9b3d50d27f881fdc07491dfb8994f7f7277a0f671d4c4aa5e9e0016fa647ef23',
    'simhash.str.hot': '323be715da39d131329accf4a78fb7af098fcf68e13d0edb4e0694178034e609',
    'hamming.64.hot': '32b319535cf76421223dca3ce1b628e8cb0741684ff648212441cf1d51974bc0',
    'hamming.64.cold': '681581d47cea86c36de7117ec5fff664f61a7ee6a0d2f0d9579399f56e4c1813',
    'hamming.32.chunks8.hot': '8d3c1a0f7345ea1c0e4ada03a6d229ef72ed44df26ec9562f160c6bd53648d3c',
    'emb_neardup.hot': 'f567e30d74668b0013bf639ae847bf598ea2fd7b4d87ce6dab19d05bb28b8217',
    'emb_neardup.cold': 'c278961a253b7728e683bc8f047b817d5a9c9cc679978c80cc34e07f045b2325',
    'emb_join.hot': '28eee506d3ecf13b0b5409a827c6614af2a0c46247a5743583d37472a433f62c',
    'emb_join.cold': '9c17ed304f13f2e0a63a8f606345afff49ee542f6887f388948c53286e345dda',
    'ngram.auto': 'b9e041b6d38786eda66105c73f07d049a0a5fe5478c1954a7c67270994d6455f',
    'ngram.capped': 'a39780965a110f819e5be628208b33116b27df4be71bb977114509056e848e49',
    'containment.auto': 'e5efa718422fa580690a4a4798479ad5aee18c212d78e3152125f42484ceedc7',
    'containment.capped': 'fbb01e9aef9fc44b6ec58f4f5222a6743e1332bd987eb236fb2784c3a028c70a',
}

HOT = 3
COLD = 1000


def _sha(df) -> str:
    rows = sorted(
        json.dumps(list(r), default=str) for r in df.collect()
    )
    blob = json.dumps([df.schema.jsonValue(), rows])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _check(got: dict) -> None:
    want = {k: GOLDEN.get(k) for k in got}
    assert got == want


def _hot_differs(got: dict, *pairs: tuple) -> None:
    for hot, cold in pairs:
        assert got[hot] != got[cold], (hot, cold)


VOCAB = [f"w{i}" for i in range(120)]
BOILER = " ".join(f"cookie{i}" for i in range(24))


def _texts(seed: int, n: int, length: int = 28):
    rng = np.random.default_rng(seed)
    return [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), length))
        for _ in range(n)
    ]


def _edit(text: str, seed: int, n_edits: int) -> str:
    rng = np.random.default_rng(seed)
    words = text.split()
    for pos in rng.choice(len(words), n_edits, replace=False):
        words[pos] = f"x{seed}_{pos}"
    return " ".join(words)


def _corpus_rows():
    """Ids 0-29: twelve base texts, one- and two-word edits of six of
    them (verified near-dup pairs), six copies of one boilerplate text
    plus two one-word edits of it (a bucket of 6-8 docs in every band:
    hot at ``HOT``), and a NULL and an empty text."""
    base = _texts(11, 12)
    rows = [(i, t) for i, t in enumerate(base)]
    for k in range(6):
        rows.append((12 + k, _edit(base[k], 100 + k, 1 + k % 2)))
    for k in range(6):
        rows.append((18 + k, BOILER))
    rows.append((24, _edit(BOILER, 7, 1)))
    rows.append((25, _edit(BOILER, 8, 1)))
    rows.append((26, None))
    rows.append((27, ""))
    rows.append((28, base[3]))
    rows.append((29, _texts(12, 1)[0]))
    return rows


def _batch_rows():
    """Ids 100-119: edits of corpus texts, five more boilerplate
    copies (a hot batch bucket), batch-internal near-dups and novel
    texts."""
    base = _texts(11, 12)
    novel = _texts(13, 5)
    rows = [(100 + k, _edit(base[k], 200 + k, 1)) for k in range(5)]
    rows += [(105 + k, BOILER) for k in range(5)]
    rows += [(110 + k, t) for k, t in enumerate(novel)]
    rows += [(115 + k, _edit(novel[k], 300 + k, 1)) for k in range(3)]
    rows += [(118, novel[4]), (119, _edit(BOILER, 9, 2))]
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_corpus_rows(), "doc_id long, text string")


@pytest.fixture(scope="module")
def batch(spark):
    return spark.createDataFrame(_batch_rows(), "doc_id long, text string")


def test_minhash_pairs(docs):
    from polaroam_spark.operators.dedup import (
        dedup_minhash_lsh,
        minhash_lsh_pairs,
        near_dedup_corpus,
    )

    got = {}
    for fmt, portable in (("xx64", False), ("str", True)):
        for tag, size in (("hot", HOT), ("cold", COLD)):
            got[f"minhash.{fmt}.{tag}"] = _sha(
                minhash_lsh_pairs(
                    docs, jaccard_threshold=0.5, max_bucket_size=size,
                    portable=portable,
                )
            )
    got["dedup_minhash.hot"] = _sha(
        dedup_minhash_lsh(docs, jaccard_threshold=0.5, max_bucket_size=HOT)
    )
    got["near_dedup.greedy.hot"] = _sha(
        near_dedup_corpus(
            docs, transitive=False, jaccard_threshold=0.5,
            max_bucket_size=HOT,
        )
    )
    _hot_differs(
        got,
        ("minhash.xx64.hot", "minhash.xx64.cold"),
        ("minhash.str.hot", "minhash.str.cold"),
    )
    _check(got)


def test_minhash_incremental(docs, batch):
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        dedup_incremental,
        expand_index_bands,
        minhash_lsh_pairs_incremental,
    )

    index = build_minhash_index(docs)
    supplied = expand_index_bands(index, bands=4, max_bucket_size=HOT)
    got = {}
    for tag, bands in (("auto", None), ("supplied", supplied)):
        for side, include in (("batch", True), ("corpus_only", False)):
            got[f"incremental.{tag}.{side}"] = _sha(
                minhash_lsh_pairs_incremental(
                    batch, index, jaccard_threshold=0.5,
                    max_bucket_size=HOT, include_batch_pairs=include,
                    index_bands=bands,
                )
            )
    got["incremental.cold.batch"] = _sha(
        minhash_lsh_pairs_incremental(
            batch, index, jaccard_threshold=0.5, max_bucket_size=COLD
        )
    )
    got["dedup_incremental.hot"] = _sha(
        dedup_incremental(
            batch, index, jaccard_threshold=0.5, max_bucket_size=HOT
        )
    )
    assert got["incremental.auto.batch"] == got["incremental.supplied.batch"]
    _hot_differs(got, ("incremental.auto.batch", "incremental.cold.batch"))
    _check(got)


def test_fuzzy_text_join(docs, batch):
    from polaroam_spark.operators.dedup import fuzzy_text_join

    right = docs.select(
        docs.doc_id.alias("rid"), docs.text.alias("body")
    )
    got = {
        f"fuzzy_join.{tag}": _sha(
            fuzzy_text_join(
                batch, right, right_text_col="body", right_id_col="rid",
                jaccard_threshold=0.5, max_bucket_size=size,
            )
        )
        for tag, size in (("hot", HOT), ("cold", COLD))
    }
    _hot_differs(got, ("fuzzy_join.hot", "fuzzy_join.cold"))
    _check(got)


def _fingerprints():
    """64-bit fingerprints: random values, 1-3 bit flips of some of
    them, five values sharing their low 16 bits (a hot chunk-0
    bucket), four identical values (hot in every chunk), a negative
    value and a NULL."""
    rng = np.random.default_rng(5)
    vals = [int(v) for v in rng.integers(0, 1 << 62, 14)]
    rows = [(i, v) for i, v in enumerate(vals)]
    for k in range(6):
        flips = rng.choice(64, 1 + k % 3, replace=False)
        v = vals[k]
        for b in flips:
            v ^= 1 << int(b)
        rows.append((20 + k, v - (1 << 64) if v >= 1 << 63 else v))
    low = 0xBEEF
    for k in range(5):
        rows.append((30 + k, (int(rng.integers(0, 1 << 40)) << 16) | low))
    rows += [(40 + k, vals[7] ^ (1 << 20)) for k in range(4)]
    rows += [(50, -12345), (51, -12345 ^ 3), (52, None)]
    return rows


def test_hamming_pairs(spark, docs):
    from polaroam_spark.operators.dedup import (
        fingerprint_hamming_pairs,
        simhash_pairs,
    )

    fps = spark.createDataFrame(_fingerprints(), "doc_id long, fp long")
    got = {}
    for tag, size in (("hot", HOT), ("cold", COLD)):
        got[f"simhash.xx64.{tag}"] = _sha(
            simhash_pairs(docs, max_bucket_size=size)
        )
        got[f"hamming.64.{tag}"] = _sha(
            fingerprint_hamming_pairs(
                fps, "fp", bits=64, max_bucket_size=size
            )
        )
    got["simhash.str.hot"] = _sha(
        simhash_pairs(docs, max_bucket_size=HOT, portable=True)
    )
    got["hamming.32.chunks8.hot"] = _sha(
        fingerprint_hamming_pairs(
            fps, "fp", bits=32, chunks=8, max_hamming=5,
            max_bucket_size=HOT,
        )
    )
    _hot_differs(
        got,
        ("simhash.xx64.hot", "simhash.xx64.cold"),
        ("hamming.64.hot", "hamming.64.cold"),
    )
    _check(got)


def _vectors(seed: int, ids: range, *piles: tuple):
    """8-dim vectors: random ones, small perturbations of the first
    few, and for each ``(template_seed, ids)`` pile near-copies of one
    template vector (a hot LSH bucket when the pile is large)."""
    rng = np.random.default_rng(seed)
    rows = []
    base = {}
    for i in ids:
        v = rng.normal(size=8)
        if i - ids[0] >= 6 and i - ids[0] < 10:
            v = base[i - 6] + rng.normal(scale=0.02, size=8)
        base[i] = v
        rows.append((i, [float(x) for x in v]))
    for template_seed, pile in piles:
        template = np.random.default_rng(template_seed).normal(size=8)
        for i in pile:
            v = template + rng.normal(scale=0.01, size=8)
            rows.append((i, [float(x) for x in v]))
    return rows


def test_embedding_pairs(spark):
    from polaroam_spark.operators.dedup import embedding_neardup_pairs
    from polaroam_spark.operators.similarity import (
        embedding_similarity_join,
    )

    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(
        _vectors(1, range(0, 24), (99, range(100, 106))), schema
    )
    # buckets hot on both sides, hot on the left only and hot on the
    # right only; the left also carries near-copies of the right
    # side's first vectors
    right = spark.createDataFrame(
        _vectors(2, range(0, 20), (99, range(200, 205)),
                 (80, range(210, 215))),
        schema,
    )
    left = spark.createDataFrame(
        _vectors(2, range(0, 10), (99, range(300, 306)))
        + _vectors(3, range(50, 62), (99, range(400, 402))),
        schema,
    )
    got = {}
    for tag, size in (("hot", HOT), ("cold", COLD)):
        got[f"emb_neardup.{tag}"] = _sha(
            embedding_neardup_pairs(
                emb, cosine_threshold=0.9, num_planes=4,
                max_bucket_size=size,
            )
        )
        got[f"emb_join.{tag}"] = _sha(
            embedding_similarity_join(
                left, right, cosine_threshold=0.9, num_planes=4,
                max_bucket_size=size,
            )
        )
    _hot_differs(
        got,
        ("emb_neardup.hot", "emb_neardup.cold"),
        ("emb_join.hot", "emb_join.cold"),
    )
    _check(got)


def test_ngram_pairs(docs):
    from polaroam_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    _check(
        {
            "ngram.auto": _sha(ngram_jaccard_pairs(docs)),
            "ngram.capped": _sha(ngram_jaccard_pairs(docs, max_gram_df=4)),
            "containment.auto": _sha(containment_pairs(docs)),
            "containment.capped": _sha(
                containment_pairs(docs, max_gram_df=4)
            ),
        }
    )
