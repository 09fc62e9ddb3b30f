"""WordPiece (BERT-family) tokenizer tests: likelihood-scored
training invariants, greedy longest-match-first encoding, whole-word
UNK semantics, continuation-prefix ambiguity hardening, exact
roundtrip on the training corpus, BERT vocab.txt I/O, and the
three-family dispatch surfaces."""
import pytest

from pyspark.sql import functions as F


TEXTS = [
    "the cat sat on the mat and the dog sat too",
    "wordpiece merges prefer pairs whose parts rarely occur apart",
    "greedy longest match first with continuation lookups",
    "répétition naïve — unicode round trip ✓ 漢字 かな",
    "the the the the cat cat cat dog dog",
    "  leading and   irregular   whitespace\tand\ttabs\n\nsurvive",
    "## markdown heading and #hashtag and a##b and ######",
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
    from polaroam_spark.operators.wordpiece import train_wordpiece

    return train_wordpiece(docs, vocab_size=220)


def test_train_invariants(model):
    """Vocab within budget; ids dense: unk=0, sorted initial
    alphabet, sorted continuation alphabet, merges in creation
    order; every corpus character covered in the form it occurs;
    no written-form collisions; no initial form starts with the
    continuation prefix."""
    vocab = model["vocab"]
    assert len(vocab) <= 220
    assert vocab[model["unk_token"]] == 0
    assert sorted(vocab.values()) == list(range(len(vocab)))
    cp = model["continuation_prefix"]
    base = [t for t in vocab if t != model["unk_token"]]
    n_merges = len(model["merges"])
    alphabet = sorted(vocab.items(), key=lambda kv: kv[1])[
        1 : len(vocab) - n_merges
    ]
    init = [t for t, _ in alphabet if not t.startswith(cp)]
    cont = [t for t, _ in alphabet if t.startswith(cp)]
    assert init == sorted(init) and cont == sorted(cont)
    # alphabet split is contiguous: initials first
    assert [t for t, _ in alphabet] == init + cont
    for a, b in model["merges"]:
        stripped = b[len(cp):] if b.startswith(cp) else b
        m = a + stripped
        assert m in vocab
        # merged initial forms never masquerade as continuations
        if not a.startswith(cp):
            assert not m.startswith(cp)
    # corpus coverage: each char present in its positional form
    from polaroam_spark.operators.tokenize import _PRETOKEN_RE

    for t in TEXTS:
        if not t:
            continue
        for w in _PRETOKEN_RE.findall(t):
            assert w[0] in vocab or any(
                k.startswith(w[0]) for k in init
            )
    assert len(base) == len(set(base))


def test_greedy_longest_match(model):
    """Each emitted piece is the longest vocab match at its
    position — re-verified by an independent scan."""
    from polaroam_spark.operators.tokenize import _PRETOKEN_RE
    from polaroam_spark.operators.wordpiece import (
        encode_text_wordpiece,
    )

    vocab = model["vocab"]
    cp = model["continuation_prefix"]
    inv = {v: k for k, v in vocab.items()}
    for t in TEXTS[:5]:
        ids = encode_text_wordpiece(model, t)
        pos = 0
        words = _PRETOKEN_RE.findall(t)
        wi, ci = 0, 0
        for tid in ids:
            tok = inv[tid]
            content = tok[len(cp):] if tok.startswith(cp) else tok
            w = words[wi]
            assert w[ci : ci + len(content)] == content
            # no longer match exists at this position
            for extra in range(len(content) + 1, len(w) - ci + 1):
                cand = w[ci : ci + extra]
                if ci > 0:
                    cand = cp + cand
                elif cand.startswith(cp):
                    continue
                assert cand not in vocab, (w, ci, cand)
            ci += len(content)
            if ci == len(w):
                wi += 1
                ci = 0


def test_roundtrip_exact_and_nulls(docs, model):
    """decode(encode(x)) == x for every training document (hash
    ambiguity included); NULL text -> NULL ids -> NULL decode."""
    from polaroam_spark.operators.wordpiece import (
        wordpiece_decode,
        wordpiece_encode,
    )

    dec = wordpiece_decode(
        wordpiece_encode(docs, model), model
    ).collect()
    for r in dec:
        if r.text is None:
            assert r.token_ids is None and r.decoded is None
        else:
            assert r.decoded == r.text, (r.text, r.decoded)


def test_unk_semantics(model):
    """A pre-token containing any uncovered character encodes to
    ONE unk id (the published whole-word rule); max_word_chars
    caps word length the BERT way."""
    from polaroam_spark.operators.wordpiece import (
        encode_text_wordpiece,
    )

    unk = model["vocab"][model["unk_token"]]
    assert encode_text_wordpiece(model, "日xyzqق") .count(unk) >= 1
    # an entirely-unseen-char word is exactly one UNK
    assert encode_text_wordpiece(model, "قك") == [unk]
    capped = dict(model, max_word_chars=3)
    ids = encode_text_wordpiece(capped, "the extravagant cat")
    # 'extravagant' exceeds 3 chars -> single UNK between the others
    assert ids.count(unk) >= 1
    assert encode_text_wordpiece(capped, "the") != [unk]


def test_score_rule_prefers_exclusive_pairs(spark):
    """The likelihood score picks the pair whose parts rarely occur
    apart over the raw-frequency winner — the defining difference
    from BPE. Corpus: 'ab' is frequent but a,b are everywhere;
    'qz' is rarer but q,z occur ONLY together."""
    from polaroam_spark.operators.wordpiece import train_wordpiece

    rows = [(0, "ab ab ab ab ab ab aa bb qz qz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m = train_wordpiece(docs, vocab_size=200)
    # the GPT-2-ish pretokenizer keeps the leading space, so q is
    # word-internal (' qz' -> ' ', '##q', '##z')
    first = m["merges"][0]
    assert first == ("##q", "##z"), m["merges"][:3]


def test_model_io_roundtrip(tmp_path, docs, model):
    """save_wordpiece/load_wordpiece: BERT vocab.txt layout,
    identical encoding after reload; unk must be present."""
    from polaroam_spark.operators.wordpiece import (
        encode_text_wordpiece,
        load_wordpiece,
        save_wordpiece,
    )

    p = str(tmp_path / "vocab.txt")
    save_wordpiece(model, p)
    lines = open(p, encoding="utf-8").read().split("\n")[:-1]
    assert lines[0] == model["unk_token"]
    # newline-bearing alphabet entries are escaped, one line each
    assert len(lines) == len(model["vocab"])
    m2 = load_wordpiece(p)
    for t in TEXTS:
        if t:
            assert encode_text_wordpiece(
                model, t
            ) == encode_text_wordpiece(m2, t)
    with pytest.raises(ValueError, match="unk_token"):
        load_wordpiece(p, unk_token="[MISSING]")


def test_family_dispatch(docs, model):
    """tokenizer_stats and encode_chat_sft accept the wordpiece
    family via the type key; token counts agree with the encode."""
    from polaroam_spark.operators.sft import encode_chat_sft
    from polaroam_spark.operators.tokenize import tokenizer_stats
    from polaroam_spark.operators.wordpiece import (
        wordpiece_encode,
        wordpiece_token_count,
    )

    st = tokenizer_stats(docs, model).collect()[0]
    total = (
        wordpiece_encode(docs, model)
        .select(F.sum(F.array_size("token_ids")))
        .first()[0]
    )
    assert st["n_tokens"] == total
    cnt = (
        wordpiece_token_count(docs, model)
        .select(F.sum("n_tokens"))
        .first()[0]
    )
    assert cnt == total
    convs = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("user").alias("role"),
                F.col("text").alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"),
                F.col("text").alias("content"),
            ),
        ).alias("messages"),
    )
    enc = encode_chat_sft(convs, model)
    row = enc.filter(F.col("doc_id") == 0).first()
    assert sum(row.loss_mask) > 0
    assert len(row.token_ids) == len(row.loss_mask)


def test_bad_inputs(spark, docs):
    """Loud failures: undersized vocab names the floor; 1-char
    continuation prefix rejected; wrong model type rejected."""
    from polaroam_spark.operators.wordpiece import (
        encode_text_wordpiece,
        train_wordpiece,
    )

    with pytest.raises(ValueError, match="floor"):
        train_wordpiece(docs, vocab_size=10)
    with pytest.raises(ValueError, match="at least 2 chars"):
        train_wordpiece(docs, continuation_prefix="_")
    with pytest.raises(ValueError, match="wordpiece"):
        encode_text_wordpiece({"type": "unigram", "vocab": {}}, "x")


def test_coverage_stats(spark, docs, model):
    """UNK-rate data card: zero UNKs on the training corpus;
    planted out-of-alphabet words count one UNK each (whole-word
    rule); per-group split; persisted encode is released by
    unpersist_caches."""
    from polaroam_spark import unpersist_caches
    from polaroam_spark.operators.wordpiece import (
        encode_text_wordpiece,
        wordpiece_coverage_stats,
    )

    row = wordpiece_coverage_stats(docs, model).first()
    assert row.n_unk_tokens == 0 and row.unk_rate == 0.0
    assert row.n_distinct_pieces_used > 0

    mixed = spark.createDataFrame(
        [(1, "a", "the cat sat"), (2, "b", "щщ the щщ")],
        "doc_id long, g string, text string",
    )
    st = {
        r.g: r
        for r in wordpiece_coverage_stats(
            mixed, model, group_by="g"
        ).collect()
    }
    assert st["a"].n_unk_tokens == 0
    assert st["b"].n_unk_tokens == 2  # one per planted word
    assert st["b"].n_tokens == len(
        encode_text_wordpiece(model, "щщ the щщ")
    )
    assert unpersist_caches() >= 1


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_roundtrip_property_driver_side(texts):
    """Property: for ANY unicode corpus, the alphabet-identity
    model decodes∘encodes every document exactly (adversarial '#'
    runs, control chars, astral-plane codepoints included). A
    TRAINED model inherits the same law — its vocab is a superset
    of the corpus alphabet and greedy matching always falls through
    to single characters — so this pins the coverage argument
    t51's per-SF roundtrip certifies on real data, across the
    whole unicode input space, without a Spark session per
    example."""
    from polaroam_spark.operators.tokenize import _PRETOKEN_RE
    from polaroam_spark.operators.wordpiece import (
        decode_ids_wordpiece,
        encode_text_wordpiece,
    )

    forms = set()
    for t in texts:
        for w in _PRETOKEN_RE.findall(t):
            forms.add(w[0])
            for c in w[1:]:
                forms.add("##" + c)
    init = sorted(u for u in forms if not u.startswith("##"))
    cont = sorted(u for u in forms if u.startswith("##"))
    vocab = {"[UNK]": 0}
    for u in init + cont:
        vocab[u] = len(vocab)
    model = {
        "type": "wordpiece",
        "vocab": vocab,
        "unk_token": "[UNK]",
        "continuation_prefix": "##",
        "max_word_chars": None,
        "merges": [],
    }
    for t in texts:
        ids = encode_text_wordpiece(model, t)
        assert decode_ids_wordpiece(model, ids) == t, t


# ---- vocabulary pruning ---------------------------------------------


def _prune_fixture(spark):
    from polaroam_spark.operators.wordpiece import train_wordpiece

    rows = [
        (i, "running walker walked walking runner " * 4)
        for i in range(8)
    ] + [(50 + i, f"rare{i} token") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = train_wordpiece(df, vocab_size=80)
    return df, model


def test_wp_prune_no_new_unks_and_roundtrip(spark):
    import pyspark.sql.functions as F

    from polaroam_spark.operators.wordpiece import (
        prune_wordpiece_vocab,
        wordpiece_decode,
        wordpiece_encode,
    )

    df, model = _prune_fixture(spark)
    alphabet = sum(
        1
        for t in model["vocab"]
        if t != "[UNK]"
        and len(t[2:] if t.startswith("##") else t) == 1
    )
    tgt = alphabet + 1 + 5  # alphabet + UNK + 5 multi-char pieces
    pruned = prune_wordpiece_vocab(df, model, tgt)
    assert len(pruned["vocab"]) <= tgt
    unk_orig = pruned["vocab"]["[UNK]"]
    assert unk_orig == 0
    # encode the corpus with both: UNK counts identical, counts >=
    both = wordpiece_encode(
        wordpiece_encode(df, model, out_col="orig"),
        pruned,
        out_col="new",
    )
    rows = both.select(
        F.size("orig").alias("no"),
        F.size("new").alias("nn"),
        F.size(F.filter("new", lambda x: x == F.lit(0))).alias(
            "unk_new"
        ),
        F.size(
            F.filter(
                "orig",
                lambda x: x == F.lit(model["vocab"]["[UNK]"]),
            )
        ).alias("unk_orig"),
    ).collect()
    for r in rows:
        assert r.nn >= r.no
        assert r.unk_new == r.unk_orig == 0
    dec = wordpiece_decode(
        wordpiece_encode(df, pruned), pruned
    ).collect()
    texts = {r.doc_id: r.text for r in df.collect()}
    for r in dec:
        assert r.decoded == texts[r.doc_id]


def test_wp_prune_validation_and_noop(spark):
    import pytest as _pt

    from polaroam_spark.operators.wordpiece import (
        prune_wordpiece_vocab,
    )

    df, model = _prune_fixture(spark)
    same = prune_wordpiece_vocab(df, model, 10_000)
    assert same["vocab"] == model["vocab"]
    with _pt.raises(ValueError, match="protected alphabet"):
        prune_wordpiece_vocab(df, model, 3)
    with _pt.raises(ValueError):
        prune_wordpiece_vocab(df, {"type": "unigram"}, 100)


def test_wp_prune_protects_bert_specials(spark, tmp_path):
    import pytest as _pt

    from polaroam_spark.operators.wordpiece import (
        load_wordpiece,
        prune_wordpiece_vocab,
        save_wordpiece,
        train_wordpiece,
    )

    df, _ = _prune_fixture(spark)
    base = train_wordpiece(df, vocab_size=80)
    # rebuild the model in a published-BERT layout: specials first,
    # [UNK] NOT at id 0, then the trained pieces in order
    specials = ["[PAD]", "[unused0]", "[CLS]", "[SEP]", "[MASK]"]
    toks = specials + [
        t
        for t, _i in sorted(base["vocab"].items(), key=lambda x: x[1])
        if t != "[UNK]"
    ]
    toks.insert(7, "[UNK]")  # mid-file, like BERT's id 100
    model = dict(base)
    model["vocab"] = {t: i for i, t in enumerate(toks)}
    p = str(tmp_path / "vocab.txt")
    save_wordpiece(model, p)
    loaded = load_wordpiece(p)

    alphabet = sum(
        1
        for t in loaded["vocab"]
        if len(t[2:] if t.startswith("##") else t) == 1
        and not (t.startswith("[") and t.endswith("]"))
    )
    tgt = alphabet + len(specials) + 1 + 3
    pruned = prune_wordpiece_vocab(df, loaded, tgt)
    # every bracketed special survives despite usage 0
    for s in specials + ["[UNK]"]:
        assert s in pruned["vocab"], s
    # dense re-id in original order: [PAD] was first, stays id 0;
    # [UNK] keeps its rank among survivors, not id 0
    assert pruned["vocab"]["[PAD]"] == 0
    assert pruned["vocab"]["[UNK]"] != 0
    order = sorted(pruned["vocab"].values())
    assert order == list(range(len(order)))

    # explicit protected_tokens: unknown entries raise loudly
    with _pt.raises(ValueError, match="protected_tokens"):
        prune_wordpiece_vocab(
            df, loaded, tgt, protected_tokens=["<nope>"]
        )
    # a real multi-char non-bracketed entry can be protected
    victim = next(
        t
        for t, _i in sorted(
            loaded["vocab"].items(), key=lambda x: -x[1]
        )
        if len(t[2:] if t.startswith("##") else t) > 1
        and not t.startswith("[")
    )
    kept = prune_wordpiece_vocab(
        df,
        loaded,
        tgt,
        protected_tokens=[victim],
    )
    assert victim in kept["vocab"]


def test_wp_prune_keeps_most_used_multichar(spark):
    import pyspark.sql.functions as F

    from polaroam_spark.operators.wordpiece import (
        prune_wordpiece_vocab,
        wordpiece_encode,
    )

    df, model = _prune_fixture(spark)
    counts = {
        r._id: r.n
        for r in wordpiece_encode(df, model, out_col="_ids")
        .select(F.explode("_ids").alias("_id"))
        .groupBy("_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_id = {i: t for t, i in model["vocab"].items()}
    multi = [
        (counts.get(i, 0), i, t)
        for i, t in by_id.items()
        if t != "[UNK]"
        and len(t[2:] if t.startswith("##") else t) > 1
    ]
    if not multi:
        import pytest as _pt

        _pt.skip("fixture trained no multi-char pieces")
    # the operator's rank: usage desc, then ORIGINAL id asc
    top = sorted(multi, key=lambda x: (-x[0], x[1]))[0]
    alphabet = len(model["vocab"]) - len(multi)
    pruned = prune_wordpiece_vocab(df, model, alphabet + 1)
    assert top[2] in pruned["vocab"]
