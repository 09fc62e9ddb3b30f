"""Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer tests:
training invariants, Viterbi optimality vs exhaustive enumeration,
exact roundtrip with byte fallback, model I/O, and the
tokenizer_stats family dispatch."""
import math

import pytest

from pyspark.sql import functions as F


TEXTS = [
    "the cat sat on the mat and the dog sat too",
    "tokenization is the art of splitting text into pieces",
    "unigram language models segment text via viterbi decoding",
    "répétition naïve — unicode round trip ✓ 漢字 かな",
    "the the the the cat cat cat dog dog",
    "  leading and   irregular   whitespace\tand\ttabs\n\nsurvive",
    "",
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def model(docs):
    from polaroam_spark.operators.unigram import train_unigram

    return train_unigram(
        docs, vocab_size=256 + 96, max_piece_length=8, seed_size=512
    )


def test_train_invariants(model):
    """Pieces within budget, every corpus character kept, ids dense
    from 256 in (-score, piece) order, EM loss non-decreasing on a
    fixed piece set (first round and final polish)."""
    scores = model["scores"]
    assert len(scores) <= 96
    corpus_chars = set("".join(t for t in TEXTS if t))
    assert corpus_chars <= set(scores) | set()
    for ch in corpus_chars:
        assert ch in scores, ch
    ids = sorted(i for i in model["vocab"].values() if i >= 256)
    assert ids == list(range(256, 256 + len(scores)))
    order = sorted(scores, key=lambda p: (-scores[p], p))
    for rank, p in enumerate(order):
        assert model["vocab"][p] == 256 + rank
    # distribution normalized
    assert abs(sum(math.exp(v) for v in scores.values()) - 1) < 1e-9
    hist = model["loss_history"]
    assert len(hist) >= 2
    assert hist[1] >= hist[0] - 1e-9  # first EM round, same pieces
    assert hist[-1] >= hist[-2] - 1e-9  # final polish, same pieces


def test_train_deterministic(docs, model):
    from polaroam_spark.operators.unigram import train_unigram

    m2 = train_unigram(
        docs, vocab_size=256 + 96, max_piece_length=8, seed_size=512
    )
    assert m2["vocab"] == model["vocab"]
    assert m2["scores"] == model["scores"]


def test_roundtrip_exact(docs, model):
    """decode(encode(x)) == x for every document, including unicode,
    irregular whitespace, and the empty string."""
    from polaroam_spark.operators.unigram import (
        unigram_decode,
        unigram_encode,
    )

    dec = unigram_decode(unigram_encode(docs, model), model)
    for r in dec.select("text", "decoded").collect():
        assert r.decoded == r.text


def test_byte_fallback_oov(model):
    """Characters absent from training encode as <0xXX> byte ids
    (< 256) and still roundtrip exactly."""
    from polaroam_spark.operators.unigram import (
        decode_ids_unigram,
        encode_text_unigram,
    )

    s = "zzz \x00\x7f Ω𝄞 the"
    ids = encode_text_unigram(model, s)
    assert any(i < 256 for i in ids)  # fallback actually used
    assert decode_ids_unigram(model, ids) == s


def test_token_count_matches_encode(docs, model):
    from polaroam_spark.operators.unigram import (
        unigram_encode,
        unigram_token_count,
    )

    both = unigram_token_count(
        unigram_encode(docs, model), model
    ).select("doc_id", "token_ids", "n_tokens")
    for r in both.collect():
        if r.token_ids is None:
            assert r.n_tokens is None
        else:
            assert r.n_tokens == len(r.token_ids)


def test_viterbi_vs_exhaustive():
    """Property test: on random small piece sets, Viterbi's score
    equals the max over ALL segmentations (exhaustive enumeration),
    and its segmentation reproduces the word."""
    import random

    from polaroam_spark.operators.unigram import _viterbi

    rnd = random.Random(17)
    alphabet = "abcd"
    for _ in range(60):
        pieces = {}
        for ch in alphabet:
            pieces[ch] = rnd.uniform(-8, -1)
        for _ in range(rnd.randint(2, 10)):
            ln = rnd.randint(2, 4)
            p = "".join(rnd.choice(alphabet) for _ in range(ln))
            pieces[p] = rnd.uniform(-8, -1)
        word = "".join(
            rnd.choice(alphabet) for _ in range(rnd.randint(1, 9))
        )

        def best_exhaustive(w):
            if not w:
                return 0.0
            out = float("-inf")
            for k in range(1, min(len(w), 8) + 1):
                head = w[:k]
                if head in pieces:
                    rest = best_exhaustive(w[k:])
                    if rest > float("-inf"):
                        out = max(out, pieces[head] + rest)
            return out

        seg = _viterbi(word, pieces, 8)
        assert seg is not None
        toks, score = seg
        assert "".join(toks) == word
        assert abs(score - best_exhaustive(word)) < 1e-9
        assert abs(
            score - sum(pieces[t] for t in toks)
        ) < 1e-12


def test_save_load_exact(model, tmp_path):
    from polaroam_spark.operators.unigram import (
        load_unigram,
        save_unigram,
    )

    p = str(tmp_path / "uni.tsv")
    save_unigram(model, p)
    m2 = load_unigram(p)
    assert m2["vocab"] == model["vocab"]
    assert m2["scores"] == model["scores"]
    assert m2["max_piece_length"] == model["max_piece_length"]


def test_validation_errors(docs):
    from polaroam_spark.operators.unigram import (
        load_unigram,
        save_unigram,
        train_unigram,
    )

    with pytest.raises(ValueError, match="vocab_size"):
        train_unigram(docs, vocab_size=256)
    with pytest.raises(ValueError, match="shrink"):
        train_unigram(docs, vocab_size=512, shrink=1.0)
    # budget smaller than the corpus charset
    with pytest.raises(ValueError, match="distinct"):
        train_unigram(docs, vocab_size=258)
    with pytest.raises(ValueError, match="unigram model"):
        save_unigram({"vocab": {}, "merges": []}, "/tmp/x.tsv")


def test_bpe_model_rejected(docs):
    from polaroam_spark.operators.unigram import unigram_encode

    with pytest.raises(ValueError, match="unigram"):
        unigram_encode(docs, {"vocab": {}, "merges": []})


def test_char_identity_model(spark):
    """A model whose pieces are exactly the corpus's single chars
    (equal scores) tokenizes every doc into length(text) tokens —
    the unigram analogue of the t27 byte identity."""
    from polaroam_spark.operators.unigram import (
        unigram_token_count,
    )

    rows = [(1, "hello world"), (2, "ab"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chars = sorted({c for _, t in rows[:2] for c in (t or "")})
    lp = -math.log(len(chars))
    model = {
        "type": "unigram",
        "vocab": {f"<0x{b:02X}>": b for b in range(256)}
        | {c: 256 + i for i, c in enumerate(chars)},
        "scores": {c: lp for c in chars},
        "max_piece_length": 1,
    }
    out = {
        r.doc_id: r.n_tokens
        for r in unigram_token_count(df, model).collect()
    }
    assert out == {1: len("hello world"), 2: 2, 3: None}


def test_tokenizer_stats_dispatch(docs, model):
    """tokenizer_stats accepts a unigram model and its n_tokens
    equals the summed unigram_token_count; fertility compares
    meaningfully against a BPE model trained on the same corpus."""
    from polaroam_spark.operators.tokenize import (
        tokenizer_stats,
        train_bpe,
    )
    from polaroam_spark.operators.unigram import unigram_token_count

    st = tokenizer_stats(docs, model).collect()[0]
    direct = (
        unigram_token_count(docs, model)
        .agg(F.sum("n_tokens"))
        .collect()[0][0]
    )
    assert st.n_tokens == direct
    bpe = train_bpe(docs, vocab_size=256 + 96)
    st_bpe = tokenizer_stats(docs, bpe).collect()[0]
    # same corpus measurements, family-specific token counts
    assert st.n_docs == st_bpe.n_docs
    assert st.n_bytes == st_bpe.n_bytes
    assert st.fertility is not None and st_bpe.fertility is not None
    assert st.n_tokens <= st.n_bytes  # pieces never beat raw bytes


def test_sample_encode_roundtrip_and_determinism(docs, model):
    """Sampled segmentations stay lossless (decode == text for every
    doc incl. unicode/whitespace), and the draw is a pure function of
    (text, seed): same seed twice is identical, distributed equals
    the driver helper, a different seed moves at least one doc."""
    from polaroam_spark.operators.unigram import (
        encode_text_unigram_sampled,
        unigram_decode,
        unigram_sample_encode,
    )

    enc = unigram_sample_encode(docs, model, alpha=0.2, seed=7)
    dec = unigram_decode(enc, model)
    rows = dec.select("doc_id", "text", "token_ids", "decoded").collect()
    for r in rows:
        assert r.decoded == r.text
        if r.text is not None:
            assert list(r.token_ids) == encode_text_unigram_sampled(
                model, r.text, alpha=0.2, seed=7
            )
    again = {
        r.doc_id: list(r.token_ids) if r.token_ids is not None else None
        for r in unigram_sample_encode(
            docs, model, alpha=0.2, seed=7
        ).collect()
    }
    first = {
        r.doc_id: list(r.token_ids) if r.token_ids is not None else None
        for r in rows
    }
    assert again == first
    other = {
        r.doc_id: list(r.token_ids) if r.token_ids is not None else None
        for r in unigram_sample_encode(
            docs, model, alpha=0.2, seed=8
        ).collect()
    }
    assert other != first


def test_sample_encode_position_diversity_and_alpha_sharpening():
    """The paper's contract on a hand-built ambiguous lattice: at
    small alpha repeated occurrences of a word sample DIFFERENT
    segmentations with near-theoretical frequencies; at large alpha
    every occurrence collapses to the Viterbi answer."""
    import math
    from collections import Counter

    from polaroam_spark.operators.unigram import (
        _viterbi,
        encode_text_unigram_sampled,
    )

    pieces = {"a": math.log(0.3), "b": math.log(0.3),
              "ab": math.log(0.4)}
    model = {
        "type": "unigram",
        "vocab": {f"<0x{k:02X}>": k for k in range(256)}
        | {"a": 256, "b": 257, "ab": 258},
        "scores": pieces,
        "max_piece_length": 2,
    }
    text = " ".join(["ab"] * 4000)
    ids = encode_text_unigram_sampled(model, text, alpha=1.0, seed=3)
    segs = Counter()
    i = 0
    # pre-tokens alternate "ab" and " ab" (leading space has no piece
    # -> byte fallback 32); strip the space bytes and read each
    # word's segmentation
    word_seg = []
    cur = []
    for t in ids:
        if t == 32:
            if cur:
                word_seg.append(tuple(cur)); cur = []
            continue
        cur.append(t)
    if cur:
        word_seg.append(tuple(cur))
    assert len(word_seg) == 4000
    segs = Counter(word_seg)
    assert set(segs) == {(258,), (256, 257)}
    # P(ab as one piece) = .4 / (.4 + .09) ~ 0.8163
    frac = segs[(258,)] / 4000
    assert abs(frac - 0.4 / 0.49) < 0.03, frac
    # alpha -> large: collapses to Viterbi ("ab")
    vit = _viterbi("ab", pieces, 2)[0]
    ids_sharp = encode_text_unigram_sampled(
        model, " ".join(["ab"] * 200), alpha=50.0, seed=3
    )
    assert all(t in (32, 258) for t in ids_sharp)
    assert vit == ["ab"]


def test_sample_encode_alpha_validation(docs, model):
    from polaroam_spark.operators.unigram import unigram_sample_encode

    for bad in (0.0, -1.0):
        with pytest.raises(ValueError, match="alpha"):
            unigram_sample_encode(docs, model, alpha=bad)


def test_coverage_stats(spark):
    """Coverage data card on a hand-built ASCII-pieces model: exact
    fallback byte counts, per-group rows, distinct-piece utilization,
    all-covered and heavy-OOV groups both exact."""
    from polaroam_spark.operators.unigram import (
        unigram_coverage_stats,
    )

    chars = sorted(set("abc def"))  # pieces: space, a..f
    model = {
        "type": "unigram",
        "vocab": {f"<0x{b:02X}>": b for b in range(256)}
        | {c: 256 + i for i, c in enumerate(chars)},
        "scores": {c: -math.log(len(chars)) for c in chars},
        "max_piece_length": 1,
    }
    df = spark.createDataFrame(
        [
            (1, "g1", "abc def"),        # fully covered, 7 tokens
            (2, "g1", "ab é"),           # é -> 2 fallback bytes
            (3, "g2", "漢字"),           # 6 fallback bytes, 0 covered
            (4, "g2", None),             # dropped
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        r.source: r
        for r in unigram_coverage_stats(
            df, model, group_by="source"
        ).collect()
    }
    g1, g2 = rows["g1"], rows["g2"]
    assert g1.n_docs == 2
    assert g1.n_tokens == 7 + (3 + 2)   # 'ab é' = a,b,space + 2 bytes
    assert g1.n_fallback_tokens == 2
    assert abs(g1.fallback_rate - 2 / 12) < 1e-12
    assert g1.n_distinct_pieces_used == len(set("abc def"))
    assert g2.n_docs == 1
    assert g2.n_tokens == 6 and g2.n_fallback_tokens == 6
    assert g2.fallback_rate == 1.0
    assert g2.n_distinct_pieces_used == 0
    # corpus-level row (no grouping)
    allr = unigram_coverage_stats(df, model).collect()
    assert len(allr) == 1
    assert allr[0].n_tokens == g1.n_tokens + g2.n_tokens
    assert allr[0].n_fallback_tokens == 8


def test_seed_table_budget_bounds_and_warns(spark):
    """The substring candidate table stops admitting new substrings
    at its budget (count-descending order, so frequent words win),
    warns, keeps every single character (byte-fallback roundtrip
    still exact), and is identical to the unbounded build when the
    budget doesn't bind."""
    import warnings

    from polaroam_spark.operators.unigram import (
        train_unigram,
        unigram_decode,
        unigram_encode,
    )

    docs = spark.createDataFrame(
        [(i, f"banana band bandana ban word{i}") for i in range(20)],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        tight = train_unigram(
            docs, vocab_size=256 + 40, seed_table_budget=60
        )
    assert any("budget" in str(x.message) for x in w)
    enc = unigram_encode(docs, tight, "text")
    dec = unigram_decode(enc, tight, "token_ids")
    assert dec.filter(
        ~F.col("decoded").eqNullSafe(F.col("text"))
    ).count() == 0
    # generous budget == unbounded result
    loose = train_unigram(
        docs, vocab_size=256 + 40, seed_table_budget=10_000_000
    )
    default = train_unigram(docs, vocab_size=256 + 40)
    assert loose["scores"] == default["scores"]


# ---- vocabulary pruning ---------------------------------------------


def _train_small(spark):
    from polaroam_spark.operators.unigram import train_unigram

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * 3)
        for i in range(10)
    ] + [(100 + i, f"unique{i} filler words here") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, train_unigram(df, vocab_size=300, em_iters=1)


def test_prune_keeps_roundtrip_total(spark):
    from polaroam_spark.operators.unigram import (
        decode_ids_unigram,
        encode_text_unigram,
        prune_unigram_vocab,
    )

    df, model = _train_small(spark)
    pruned = prune_unigram_vocab(df, model, target_vocab_size=266)
    assert len(pruned["scores"]) <= 10
    assert len(pruned["vocab"]) == 256 + len(pruned["scores"])
    for t in [
        "the quick brown fox",
        "unique3 filler",
        "totally unseen wörds 123",
    ]:
        ids = encode_text_unigram(pruned, t)
        assert decode_ids_unigram(pruned, ids) == t


def test_prune_keeps_most_used_and_reids_densely(spark):
    from polaroam_spark.operators.unigram import (
        prune_unigram_vocab,
        unigram_encode,
    )
    import pyspark.sql.functions as F

    df, model = _train_small(spark)
    enc = unigram_encode(df, model)
    counts = {
        r._id: r.n
        for r in enc.select(F.explode("token_ids").alias("_id"))
        .groupBy("_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_id = {i: p for p, i in model["vocab"].items() if i >= 256}
    usage = sorted(
        ((counts.get(i, 0), p) for i, p in by_id.items()),
        reverse=True,
    )
    pruned = prune_unigram_vocab(df, model, target_vocab_size=260)
    kept = set(pruned["scores"])
    # the top-used piece must survive a 4-piece budget
    assert usage[0][1] in kept
    ids = sorted(
        i for p, i in pruned["vocab"].items() if i >= 256
    )
    assert ids == list(range(256, 256 + len(kept)))
    # scores unchanged for kept pieces
    for p in kept:
        assert pruned["scores"][p] == model["scores"][p]


def test_prune_noop_and_validation(spark):
    import pytest as _pt

    from polaroam_spark.operators.unigram import prune_unigram_vocab

    df, model = _train_small(spark)
    same = prune_unigram_vocab(df, model, target_vocab_size=10_000)
    assert same["vocab"] == model["vocab"]
    with _pt.raises(ValueError):
        prune_unigram_vocab(df, model, target_vocab_size=100)
    with _pt.raises(ValueError):
        prune_unigram_vocab(df, {"type": "bpe"}, 300)


def test_prune_min_usage_drops_dead_ids(spark):
    from polaroam_spark.operators.unigram import (
        prune_unigram_vocab,
        unigram_encode,
    )
    import pyspark.sql.functions as F

    df, model = _train_small(spark)
    # prune against a corpus slice that uses only some pieces
    slice_df = df.filter(F.col("doc_id") < 100)
    pruned = prune_unigram_vocab(
        slice_df, model, target_vocab_size=10_000, min_usage=1
    )
    enc = slice_df
    used = {
        r._id
        for r in unigram_encode(slice_df, model)
        .select(F.explode("token_ids").alias("_id"))
        .distinct()
        .collect()
    }
    by_id = {i: p for p, i in model["vocab"].items() if i >= 256}
    used_pieces = {by_id[i] for i in used if i >= 256}
    assert set(pruned["scores"]) == used_pieces


_HASHSEED_SCRIPT = """
import json
from polaroam_spark.operators import unigram

text = (
    "the cat sat on the mat and the dog sat too tokenization is the art"
    " of splitting text into pieces unigram language models segment text"
    " via viterbi decoding repetition naive unicode round trip leading and"
    " irregular whitespace tabs survive the quick brown fox jumps over the"
    " lazy dog again and again numbers mix with words"
)
counts = {}
for i, w in enumerate(text.split()):
    counts[w] = counts.get(w, 0) + 1 + i % 5
words = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
# the trainer's one Spark pass, replaced by its (fixed) result
unigram._word_histogram = lambda *args: list(words)
model = unigram.train_unigram(None, vocab_size=256 + 150, max_piece_length=6)
print(json.dumps([[p, s.hex()] for p, s in sorted(model["scores"].items())]))
"""


def test_scores_independent_of_hash_seed():
    """Training is a pure function of the histogram: two interpreters
    with different string-hash seeds (so different set iteration
    orders) learn bit-identical scores."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = []
    for seed in ("1", "3"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=root)
        outs.append(
            subprocess.run(
                [sys.executable, "-c", _HASHSEED_SCRIPT],
                env=env, capture_output=True, text=True, check=True,
            ).stdout
        )
    assert outs[0] and outs[0] == outs[1]
