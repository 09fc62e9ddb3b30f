"""Golden outputs of the trained hashed-gram linear models: the
quality scorer (word and char features, mean and count features,
portable and fast hashing, with and without the label column, on
NULL, empty and whitespace-only text), the langid scorer (word and
char features, K = 3 with a planted margin tie, with and without the
probability column) and the full model dicts both trainers return.
Each scorer product is pinned as the sha256 of its schema plus its
sorted rows, and each model as the sha256 of its JSON, so a change
to any probability, prediction, weight, bias or loss moves a hash.

Weights are random doubles, not round numbers, so a change in
summation order shows. Inputs are built with a fixed partition
count: the trainers sum one gradient partial per partition in
partition order, so the trained floats depend on the partitioning
but not on the core count."""
import hashlib
import json

import numpy as np
import pytest

GOLDEN = {
    "quality.word.norm.fast": "7ab560fd1b1c43e4a7b35989bd5d80ce376b4b9de00574cfce46f3f274e62568",
    "quality.word.norm.portable": "d1d4f160c99225d74f5f6a72dfd4a72180bea5bcc2fcdfdb7e8314d079b9d5bc",
    "quality.word.count.fast": "996690709e35953fb311e6ca7a23d240059afc8c473130d9afcfc771b2d1231e",
    "quality.word.count.portable": "94974d9ca5da78ae2348876b49142c3860f4c73b91870802a0fe336a1f7f4b68",
    "quality.char.norm.fast": "92d336815013ce7afe0839be9664cf226ae29d9e340b96ac9a964fbc70ed1ab9",
    "quality.char.norm.portable": "0acf4f5643d4a95287fb8ece635cfef4d6781822a5b116e89c400c9c19a86baa",
    "quality.char.count.fast": "5174fcb50e70f42641b24f76abda90b8351ab72f48b7135354b5fa1788fce098",
    "quality.char.count.portable": "6c8f5be99143166cb3cdc655e26dee622b4be0b9f0af569223e994de41250d51",
    "quality.word.norm.fast.nolabel": "4a35aa2fec171706361fd23cb9e9dd946fe979879de5ef0b3318bf67fe7b6c8e",
    "langid.word.prob": "f9bfa4a33a19437c57d045d10d605c8bac4d57170b4794d3bebc4330fd16db15",
    "langid.word.noprob": "ede772b6aeeb4795c9707b75f241701f5d568e2fa36b411555f1e92f4265ede7",
    "langid.char.prob": "662e74eb997d24f9448979e696c1bfe20f168a761e293a85f47982093c2e9600",
    "langid.char.noprob": "2493407eeaad8767aab209483854f51399dd636254fdb830ff0df6032b2d8024",
    "langid.word.count.prob": "a054af88ed99f4b9308bc9b9b77cf619420700178d1c4fa8816b85ab1cdfee28",
    "train.quality.word": "efcd49eb630715652789db056c6d3894aa240e0fa5bdbbecd95cd09d6021980b",
    "train.quality.char": "a8dc91e7eb182e55fb27bf80f5484aaab184e889eb2c84aaade6a4fb952ff6b0",
    "train.langid.word": "8d4aeb242b5a5a959cc0450c2c2d1883f8afdbc6c8b7de202b4851e144bec8d5",
    "train.langid.char": "c364aad86597679c4c37f028818f82b342c3fbfcd11ad39dac4092942d24df6c",
}

PARTITIONS = 3

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "click here buy now free offer click here win big",
    "a well written paragraph about science and history",
    "spam spam cheap pills buy buy buy now now now",
    "el perro y el gato que viven en la casa",
    "der hund und die katze wohnen in dem haus",
    "Mixed CASE text, with punctuation!  and  gaps",
    "x",
    "日本語のテキストと空白なしの文",
    "the the the the the",
]


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


def _frame(spark, rows, schema):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, PARTITIONS), schema
    )


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    rows += [(100, None), (101, ""), (102, "   "), (103, "\t\n")]
    return _frame(spark, rows, "doc_id long, text string")


def _weights(rng, b):
    return [float(x) for x in rng.standard_normal(b)]


@pytest.mark.parametrize("portable", [False, True])
@pytest.mark.parametrize("normalize", [True, False])
@pytest.mark.parametrize("feature", ["word", "char"])
def test_quality_scorer(docs, feature, normalize, portable):
    from polaroam_spark.operators.quality import score_quality_classifier

    b = 97
    model = {
        "weights": _weights(np.random.default_rng(5), b),
        "bias": 0.3125,
        "num_buckets": b,
        "seed": 23,
        "portable": portable,
        "feature": feature,
    }
    # a hand-built model without "normalize" reads it as False
    if normalize:
        model["normalize"] = True
    key = ".".join(
        [
            "quality",
            feature,
            "norm" if normalize else "count",
            "portable" if portable else "fast",
        ]
    )
    _check(
        {key: _sha(score_quality_classifier(docs, model, threshold=0.45))}
    )


def test_quality_scorer_without_label(docs):
    from polaroam_spark.operators.quality import score_quality_classifier

    b = 97
    model = {
        "weights": _weights(np.random.default_rng(5), b),
        "bias": 0.3125,
        "num_buckets": b,
        "seed": 23,
        "normalize": True,
    }
    out = score_quality_classifier(docs, model, label_col=None)
    _check({"quality.word.norm.fast.nolabel": _sha(out)})


def _langid_model(feature, normalize=None):
    """K = 3; classes "b" and "c" carry identical weights and biases,
    so every row that one of them wins is a margin tie that the
    first-class rule must give to "b"."""
    rng = np.random.default_rng(9)
    b = 61
    w_a = _weights(rng, b)
    w_b = _weights(rng, b)
    model = {
        "classes": ["a", "b", "c"],
        "weights": [w_a, w_b, list(w_b)],
        "biases": [0.125, -0.0625, -0.0625],
        "num_buckets": b,
        "seed": 29,
        "feature": feature,
    }
    if normalize is not None:
        model["normalize"] = normalize
    return model


@pytest.mark.parametrize("with_prob", [True, False])
@pytest.mark.parametrize("feature", ["word", "char"])
def test_langid_scorer(docs, feature, with_prob):
    from polaroam_spark.operators.langid import score_langid

    out = score_langid(
        docs,
        _langid_model(feature),
        prob_col="language_prob" if with_prob else None,
    )
    key = f"langid.{feature}.{'prob' if with_prob else 'noprob'}"
    _check({key: _sha(out)})


def test_langid_scorer_count_features(docs):
    from polaroam_spark.operators.langid import score_langid

    out = score_langid(docs, _langid_model("word", normalize=False))
    _check({"langid.word.count.prob": _sha(out)})


@pytest.fixture(scope="module")
def labeled(spark):
    rows = []
    for i, t in enumerate(TEXTS):
        rows.append((i, t + f" tail {i % 4}", i % 2))
        rows.append((50 + i, t, (i + 1) % 2))
    rows += [(90, "no label here", None), (91, None, 1), (92, "", 0)]
    return _frame(spark, rows, "doc_id long, text string, label int")


@pytest.mark.parametrize("feature", ["word", "char"])
def test_train_quality(labeled, feature):
    from polaroam_spark.operators.quality import train_quality_classifier

    kw = (
        {}
        if feature == "word"
        else {"normalize": False, "portable": True, "learning_rate": 0.05}
    )
    model = train_quality_classifier(
        labeled, num_buckets=53, n_iter=3, feature=feature, **kw
    )
    # NULL label, NULL text, empty text; "x" has no char 3-gram
    assert model["n_dropped"] == {"word": 3, "char": 4}[feature]
    _check({f"train.quality.{feature}": _sha_obj(model)})


@pytest.fixture(scope="module")
def languages(spark):
    langs = ["en", "es", "de"]
    rows = [
        (i, t, langs[i % 3]) for i, t in enumerate(TEXTS)
    ]
    rows += [
        (20 + i, t + " und mehr", langs[(i + 1) % 3])
        for i, t in enumerate(TEXTS)
    ]
    rows += [(90, "unlabelled text", None), (91, "   ", "en")]
    return _frame(
        spark, rows, "doc_id long, text string, language string"
    )


@pytest.mark.parametrize("feature", ["word", "char"])
def test_train_langid(languages, feature):
    from polaroam_spark.operators.langid import train_langid

    kw = {} if feature == "word" else {"normalize": False, "learning_rate": 0.1}
    model = train_langid(
        languages, num_buckets=47, n_iter=3, feature=feature, **kw
    )
    # NULL label, whitespace-only text; "x" has no char 3-gram
    assert model["n_dropped"] == {"word": 2, "char": 3}[feature]
    _check({f"train.langid.{feature}": _sha_obj(model)})
