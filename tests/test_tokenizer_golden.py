"""Golden outputs of the three tokenizer families (BPE, unigram,
WordPiece): every family trains on one small inline corpus, and the
sha256 of each product is pinned — saved model files, distributed
encode / token-count / decode, single-string encode / decode, both
coverage cards, both pruned models and ``encode_chat_sft``. Any
change to tokenizer behaviour moves a hash (unigram scores are
compared to 9 decimals, see ``_rounded``)."""
import hashlib
import json

import pytest

from pyspark.sql import functions as F

CORPUS = [
    "the cat sat on the mat and the dog sat too",
    "tokenizers split words into pieces and pieces into bytes",
    "the quick brown fox jumps over the lazy dog again and again",
    "naïve café résumé — unicode 漢字 かな ✓ survives",
    "  leading   spaces\tand\ttabs\n\nand newlines stay",
    "numbers 12345 and 2024-10-17 mix with words_and_underscores",
    "the the the cat cat dog dog dog pieces pieces",
    "",
    None,
]

#: probes: multi-byte unicode, whitespace runs, characters outside
#: every trained alphabet, and the BPE special token
PROBES = [
    "naïve café 漢字 🚀 emoji",
    "a   b\t\t\nc    \n\n",
    "Ωmega ∑ zebra qqq xylophone",
    "the cat<|endoftext|>the dog",
    "",
    None,
]

EOT = "<|endoftext|>"

CHATS = [
    (0, [("user", "what sat on the mat?"), ("assistant", "the cat sat")]),
    (1, [("system", "be brief"), ("user", "naïve?"), ("assistant", "café ✓")]),
]

GOLDEN = {
    "bpe.files": "c05a79ed327ec582a37aefb1fa37cb123eaac50b1cbcc93bc168bfee1a03a443",
    "unigram.files": "b5b6cc3462f28579ff1cf1aa720e6ee588605d962bf3cd23ca552dd7e2ffc019",
    "wordpiece.files": "0cb2e990488abca3de06e6dd16b453ed96ade68d8bfd50f000908785a27e321b",
    "bpe.frame": "b1f441a4f1a8f08cdc829e39b19ef93c396cb29c3442a003d459884c4145e851",
    "unigram.frame": "914c7a92e1fecc9916664598f233b3b6786abe485c623265ba841d49c350d937",
    "wordpiece.frame": "d8cc6d4ef795ec9d5c360fdfc83fd2424605ebaf857a3829b7acf8472f2897ec",
    "helpers": "58068a9d7cb7d7dc50cf09d8ab826994215b6f31ece341ce6a43fd10d017a77c",
    "unigram.coverage": "a9da2461d81b2c8215cba808abbbff1ffabc142e76cababb97f98a03993bc0ed",
    "wordpiece.coverage": "01188dd9a784d2b40a296f4c67d5d5cfdddc9757871b782c6b746056f2291dc5",
    "unigram.pruned": "9616694ffcc08cd60808658c0cee046ea5e1f0f68d9722a731c3dc8315e75522",
    "wordpiece.pruned": "2297e4277cb1f48f88a722843c8800849183698fe0db0c6460ffaa66e94a8f6e",
    "sft": "d5433df2f1d62515c742115833fe25c6402a6c3a90806fdd7d56f410ea365f97",
}


def _sha(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _file_sha(*paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _rounded(scores: dict) -> dict:
    """Unigram piece scores to 9 decimals. train_unigram's final
    renormalization sums the piece masses in set iteration order, so
    the last bits of every score move with PYTHONHASHSEED (the ids and
    the segmentations do not); everything else is hashed exactly."""
    return {p: round(v, 9) for p, v in scores.items()}


def _unigram_file_sha(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        header, *lines = f.read().splitlines()
    pieces = [line.split("\t") for line in lines]
    return _sha([header] + [[p, round(float(v), 9)] for p, v in pieces])


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def probes(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(PROBES)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def models(docs):
    from polaroam_spark.operators.tokenize import (
        add_special_tokens,
        train_bpe,
    )
    from polaroam_spark.operators.unigram import train_unigram
    from polaroam_spark.operators.wordpiece import train_wordpiece

    return {
        "bpe": add_special_tokens(
            train_bpe(docs, vocab_size=300), [EOT]
        ),
        "unigram": train_unigram(docs, vocab_size=256 + 90),
        "wordpiece": train_wordpiece(docs, vocab_size=150),
    }


def _check(got: dict) -> None:
    want = {k: GOLDEN[k] for k in got}
    assert got == want


def test_saved_model_files(models, tmp_path):
    from polaroam_spark.operators.tokenize import save_bpe
    from polaroam_spark.operators.unigram import save_unigram
    from polaroam_spark.operators.wordpiece import save_wordpiece

    d = str(tmp_path)
    save_bpe(models["bpe"], f"{d}/vocab.json", f"{d}/merges.txt")
    save_unigram(models["unigram"], f"{d}/unigram.tsv")
    save_wordpiece(models["wordpiece"], f"{d}/vocab.txt")
    _check(
        {
            "bpe.files": _file_sha(f"{d}/vocab.json", f"{d}/merges.txt"),
            "unigram.files": _unigram_file_sha(f"{d}/unigram.tsv"),
            "wordpiece.files": _file_sha(f"{d}/vocab.txt"),
        }
    )


def test_encode_count_decode(probes, models):
    from polaroam_spark.operators import tokenize, unigram, wordpiece

    ops = {
        "bpe": (
            tokenize.bpe_encode,
            tokenize.bpe_token_count,
            tokenize.bpe_decode,
        ),
        "unigram": (
            unigram.unigram_encode,
            unigram.unigram_token_count,
            unigram.unigram_decode,
        ),
        "wordpiece": (
            wordpiece.wordpiece_encode,
            wordpiece.wordpiece_token_count,
            wordpiece.wordpiece_decode,
        ),
    }
    got = {}
    for fam, (enc, cnt, dec) in ops.items():
        m = models[fam]
        out = dec(cnt(enc(probes, m), m), m)
        rows = out.orderBy("doc_id").collect()
        got[f"{fam}.frame"] = _sha([r.asDict() for r in rows])
    _check(got)


def test_encode_text_decode_ids(models):
    from polaroam_spark.operators.tokenize import decode_ids, encode_text
    from polaroam_spark.operators.unigram import (
        decode_ids_unigram,
        encode_text_unigram,
    )
    from polaroam_spark.operators.wordpiece import (
        decode_ids_wordpiece,
        encode_text_wordpiece,
    )

    pairs = {
        "bpe": (encode_text, decode_ids),
        "unigram": (encode_text_unigram, decode_ids_unigram),
        "wordpiece": (encode_text_wordpiece, decode_ids_wordpiece),
    }
    out = {}
    for fam, (enc, dec) in pairs.items():
        m = models[fam]
        ids = [enc(m, t) for t in PROBES if t is not None]
        out[fam] = [[i, dec(m, i)] for i in ids]
    _check({"helpers": _sha(out)})


def test_coverage_cards(docs, probes, models):
    from polaroam_spark.operators.unigram import unigram_coverage_stats
    from polaroam_spark.operators.wordpiece import (
        wordpiece_coverage_stats,
    )

    frame = docs.withColumn("src", F.lit("corpus")).unionByName(
        probes.withColumn("src", F.lit("probe"))
    )
    got = {}
    for fam, card in (
        ("unigram", unigram_coverage_stats),
        ("wordpiece", wordpiece_coverage_stats),
    ):
        m = models[fam]
        grouped = card(frame, m, group_by="src").orderBy("src").collect()
        whole = card(frame, m).collect()
        got[f"{fam}.coverage"] = _sha(
            [r.asDict() for r in grouped + whole]
        )
    _check(got)


def test_pruned_models(docs, models):
    from polaroam_spark.operators.unigram import prune_unigram_vocab
    from polaroam_spark.operators.wordpiece import prune_wordpiece_vocab

    wp = models["wordpiece"]
    uni = prune_unigram_vocab(docs, models["unigram"], 256 + 40)
    _check(
        {
            "unigram.pruned": _sha({**uni, "scores": _rounded(uni["scores"])}),
            "wordpiece.pruned": _sha(
                prune_wordpiece_vocab(docs, wp, len(wp["vocab"]) - 20)
            ),
        }
    )


def test_encode_chat_sft(spark, models):
    from polaroam_spark.operators.sft import encode_chat_sft

    convs = spark.createDataFrame(
        [
            (i, [{"role": r, "content": c} for r, c in msgs])
            for i, msgs in CHATS
        ],
        "doc_id long, messages array<struct<role string, content string>>",
    )
    out = {}
    for fam in ("bpe", "unigram", "wordpiece"):
        rows = encode_chat_sft(convs, models[fam]).orderBy("doc_id")
        out[fam] = [
            [r.doc_id, r.token_ids, r.loss_mask] for r in rows.collect()
        ]
    _check({"sft": _sha(out)})
