"""WordPiece tokenizer family — the BERT-style third deployed
subword family next to byte-level BPE (``tokenize.py``) and the
unigram LM (``unigram.py``).

Training follows the published likelihood-scored merge algorithm
(Schuster & Nakajima 2012; the formulation popularized by the
Hugging Face LLM-course WordPiece chapter): start from the corpus
character alphabet (word-initial characters plain, word-internal
characters carrying the ``##`` continuation prefix), then repeatedly
merge the adjacent unit pair maximizing

    score(x, y) = count(x, y) / (count(x) * count(y))

— pair frequency normalized by the part frequencies, which prefers
pairs whose parts rarely occur apart (vs BPE's raw-frequency rule).
Encoding is the published greedy longest-match-first per pre-token
with ``##`` continuation lookups and whole-word ``[UNK]`` when no
piece matches (Devlin et al. 2018's WordpieceTokenizer).

Spark shape (the ``train_bpe`` recipe): ONE distributed pass builds
the pre-token histogram (explode → groupBy → count, map-side
combined), the top ``max_words`` rows are collected — a bounded,
vocabulary-sized frame — and the merge loop runs driver-side with
incremental pair/unit count updates and a lazy max-heap, so each
merge touches only the words containing the merged pair. Encode /
count / decode are Arrow-batched ``pandas_udf`` passes with a
per-worker word cache, exactly the ``bpe_encode`` contract.

Determinism: score ties break toward the lexicographically-smallest
pair, so training is a pure function of the histogram. Written-form
collisions (two merges concatenating to one string, or a merged
word-initial form that would begin with the continuation prefix and
masquerade as a continuation piece) are skipped exactly like
``train_bpe``'s ``produced`` rule — the vocab maps written form →
id bijectively, which is what makes ``wordpiece_decode`` exact.

Beyond-reference operator: the reference corpus
(ollin18/PolaRoam) has no tokenizers at all; this module exists for
the LLM-training-data pipeline surface. Model files use the public
BERT ``vocab.txt`` layout (one written form per line, line number =
id), so third-party BERT vocabularies load directly.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polaroam_spark.operators.tokenize import (
    _coverage_stats,
    _decode,
    _encode,
    _for_family,
    _id_usage,
    _open_model_file,
    _pre_re,
    _require_family,
    _token_count,
    _word_histogram,
    decode_ids,
    encode_text,
)

import re as _re

# BERT-family control-token form: [PAD], [CLS], [SEP], [MASK],
# [unused0]… — never emitted by wordpiece_encode (usage 0) but load-
# bearing for downstream consumers, so pruning protects them.
_SPECIAL_FORM = _re.compile(r"\[[^\[\]]+\]")


def train_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1024,
    max_words: int = 1_000_000,
    pretokenizer: str = "default",
    unk_token: str = "[UNK]",
    continuation_prefix: str = "##",
    max_word_chars: "int | None" = None,
) -> dict:
    """Learn a WordPiece model from a corpus (module docstring for
    the algorithm and its public sources). ``vocab_size`` counts the
    UNK token plus the corpus alphabet (each character in the form
    it occurs: word-initial plain, word-internal ``##``-prefixed),
    so the number of learned merges is ``vocab_size - 1 -
    len(alphabet)`` — pass at least ``1 + len(alphabet)`` or this
    raises with the required minimum. Ids are 0 for ``unk_token``,
    then the initial alphabet sorted, then the continuation alphabet
    sorted, then merges in creation order — deterministic.

    ``max_word_chars`` is BERT's ``max_input_chars_per_word`` (words
    longer than it encode to UNK); the default ``None`` disables the
    cap so ``decode(encode(x)) == x`` holds exactly on any corpus
    the model was trained on (alphabet coverage is total there).
    Like :func:`~polaroam_spark.operators.tokenize.train_bpe`, a
    corpus with more than ``max_words`` distinct pre-tokens trains
    on the frequency-top slice and warns LOUDLY."""
    cp = str(continuation_prefix)
    if len(cp) < 2:
        raise ValueError(
            "continuation_prefix must be at least 2 chars: a "
            "1-char prefix collides with the single-character "
            "alphabet forms and makes written forms ambiguous"
        )
    hist = _word_histogram(
        df,
        text_col,
        max_words,
        pretokenizer,
        "train_wordpiece",
        "merges AND drop tail-only characters from the alphabet "
        "(their words will encode to UNK)",
    )

    def _syms(word: str) -> "tuple[str, ...]":
        return tuple(
            c if i == 0 else cp + c for i, c in enumerate(word)
        )

    words: "dict[tuple[str, ...], int]" = {}
    for w, c in hist:
        s = _syms(w)
        words[s] = words.get(s, 0) + c

    import heapq
    from collections import Counter, defaultdict

    unit_counts: Counter = Counter()
    pair_counts: Counter = Counter()
    pair_words: "defaultdict[tuple, set]" = defaultdict(set)
    u_pairs: "defaultdict[str, set]" = defaultdict(set)
    word_list = list(words.items())
    alphabet: set = set()
    for wi, (syms, freq) in enumerate(word_list):
        alphabet.update(syms)
        for s in syms:
            unit_counts[s] += freq
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += freq
            pair_words[p].add(wi)
            u_pairs[p[0]].add(p)
            u_pairs[p[1]].add(p)

    n_base = 1 + len(alphabet)
    n_merges = int(vocab_size) - n_base
    if n_merges < 0:
        raise ValueError(
            f"vocab_size={vocab_size} is below the model floor "
            f"{n_base} (UNK + {len(alphabet)} alphabet forms on "
            "this corpus); raise vocab_size"
        )

    def _strip(u: str) -> str:
        return u[len(cp):] if u.startswith(cp) else u

    def _entry(p: "tuple[str, str]"):
        """Heap entry with snapshots: stale if any count moved.
        Score ties break toward the lexicographically-smallest
        pair via tuple comparison."""
        pc = pair_counts[p]
        cx = unit_counts[p[0]]
        cy = unit_counts[p[1]]
        return (-(pc / (cx * cy)), p, pc, cx, cy)

    heap = [_entry(p) for p in pair_counts]
    heapq.heapify(heap)

    # every written form produced so far: the vocab is written form
    # -> id, so a merge whose concatenation collides with an
    # existing form, or whose word-INITIAL form would begin with
    # the continuation prefix (masquerading as a continuation
    # piece), is skipped forever — decode exactness depends on it
    produced = set(alphabet) | {unk_token}
    merges: "list[tuple[str, str]]" = []
    for _ in range(n_merges):
        best = None
        while heap:
            negs, p, pc, cx, cy = heapq.heappop(heap)
            if (
                pair_counts.get(p) != pc
                or unit_counts.get(p[0]) != cx
                or unit_counts.get(p[1]) != cy
            ):
                continue  # stale snapshot; a fresh entry exists
            m = p[0] + _strip(p[1])
            if m in produced or (
                not p[0].startswith(cp) and m.startswith(cp)
            ):
                # unmergeable forever (produced only grows; the
                # prefix form never changes): retire the pair
                del pair_counts[p]
                pair_words.pop(p, None)
                continue
            best = p
            break
        if best is None:
            break
        merges.append(best)
        a, b = best
        merged = a + _strip(b)
        produced.add(merged)
        touched: set = set()
        for wi in list(pair_words[best]):
            syms, freq = word_list[wi]
            out = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new = tuple(out)
            for s in syms:
                unit_counts[s] -= freq
                if unit_counts[s] <= 0:
                    del unit_counts[s]
            for s in new:
                unit_counts[s] += freq
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= freq
                touched.add(p)
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                    pair_words.pop(p, None)
                elif p in pair_words:
                    pair_words[p].discard(wi)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] += freq
                touched.add(p)
                pair_words[p].add(wi)
                u_pairs[p[0]].add(p)
                u_pairs[p[1]].add(p)
            word_list[wi] = (new, freq)
        # counts of a, b, merged moved, so every pair containing
        # them has a stale DENOMINATOR — re-push those too (the
        # likelihood score is what distinguishes this trainer from
        # train_bpe's frequency heap)
        for u in (a, b, merged):
            touched.update(u_pairs.get(u, ()))
        for p in touched:
            if p in pair_counts:
                heapq.heappush(heap, _entry(p))

    vocab: "dict[str, int]" = {unk_token: 0}
    init_forms = sorted(
        u for u in alphabet if not u.startswith(cp)
    )
    cont_forms = sorted(u for u in alphabet if u.startswith(cp))
    for u in init_forms + cont_forms:
        vocab[u] = len(vocab)
    for a, b in merges:
        vocab[a + _strip(b)] = len(vocab)
    out = {
        "type": "wordpiece",
        "vocab": vocab,
        "unk_token": unk_token,
        "continuation_prefix": cp,
        "max_word_chars": max_word_chars,
        "merges": merges,
    }
    if pretokenizer != "default":
        out["pretokenizer"] = pretokenizer
    return out


def _wordpiece_segmenter(model: dict):
    """(pre-token -> ids) for the WordPiece family: greedy
    longest-match-first with ``##`` continuation lookups and
    whole-word UNK."""
    vocab = model["vocab"]
    cp = model.get("continuation_prefix", "##")
    ncp = len(cp)
    unk_id = vocab[model.get("unk_token", "[UNK]")]
    maxc = model.get("max_word_chars")
    maxc = None if maxc is None else int(maxc)
    # longest piece CONTENT bounds the inner scan
    max_len = max(
        (
            len(t) - ncp if t.startswith(cp) else len(t)
            for t in vocab
        ),
        default=1,
    )

    def _segment(word: str) -> "list[int]":
        n = len(word)
        if maxc is not None and n > maxc:
            return [unk_id]
        ids: "list[int]" = []
        i = 0
        while i < n:
            j = min(n, i + max_len)
            hit = None
            while j > i:
                s = word[i:j]
                if i > 0:
                    s = cp + s
                elif s.startswith(cp):
                    # a raw substring shaped like the continuation
                    # prefix can only hit a CONTINUATION entry
                    # (initial pieces never start with the prefix —
                    # trainer guard + single-char alphabet), which
                    # would consume prefix-stripped length and break
                    # decode: words literally starting with '##'
                    # encode via shorter initial pieces instead
                    j -= 1
                    continue
                tid = vocab.get(s)
                if tid is not None:
                    hit = tid
                    break
                j -= 1
            if hit is None:
                return [unk_id]  # the published whole-word rule
            ids.append(hit)
            i = j
        return ids

    return _segment


def _id_to_bytes_wordpiece(model: dict) -> "dict[int, bytes]":
    """id → emitted UTF-8: continuation pieces drop the prefix; the
    UNK id emits the UNK token literally (an UNK'd word is the one
    place the family is lossy, by design)."""
    cp = model.get("continuation_prefix", "##")
    out: "dict[int, bytes]" = {}
    for t, i in model["vocab"].items():
        out[int(i)] = (t[len(cp):] if t.startswith(cp) else t).encode(
            "utf-8"
        )
    unk = model.get("unk_token", "[UNK]")
    out[int(model["vocab"][unk])] = unk.encode("utf-8")
    return out


#: the tokenizer core's encode / count / decode restricted to
#: WordPiece models: pieces emit their content (continuation prefix
#: stripped), concatenated in order — the pre-tokenization split
#: keeps whitespace inside pre-tokens, so ``decode(encode(x)) == x``
#: exactly whenever no word hit UNK (guaranteed on the training
#: corpus with the default ``max_word_chars=None``)
wordpiece_encode = _for_family("wordpiece", _encode)
wordpiece_token_count = _for_family("wordpiece", _token_count)
wordpiece_decode = _for_family("wordpiece", _decode)
encode_text_wordpiece = _for_family("wordpiece", encode_text)
decode_ids_wordpiece = _for_family("wordpiece", decode_ids)


def _esc_line(t: str) -> str:
    """Line-safe written form: our GPT-2-ish pretokenizer keeps
    whitespace inside pre-tokens, so alphabet entries can contain
    raw newlines — unrepresentable in the line-per-token layout.
    Escape ``\\``, ``\n``, ``\r`` reversibly; published BERT
    vocabs contain none of these, so they load byte-identically."""
    return (
        t.replace("\\", "\\\\")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def _unesc_line(s: str) -> str:
    out: "list[str]" = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n and s[i + 1] in "\\nr":
            nxt = s[i + 1]
            out.append(
                "\\" if nxt == "\\" else ("\n" if nxt == "n" else "\r")
            )
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def save_wordpiece(model: dict, path: str) -> None:
    """Persist as public BERT ``vocab.txt``: one written form per
    line, line number = id (ids are contiguous by construction);
    newline/backslash characters inside a form are escaped (see
    :func:`_esc_line` — a no-op for published BERT vocabularies).
    The path may be a URI (s3://…, file://…) — same pyarrow.fs
    routing as the BPE savers. Merges are a training artifact and
    are not persisted: encoding needs only the vocab."""
    vocab = model["vocab"]
    by_id = sorted(vocab.items(), key=lambda kv: kv[1])
    for want, (_, got) in enumerate(by_id):
        if got != want:
            raise ValueError(
                f"wordpiece vocab ids are not contiguous at {got} "
                f"(expected {want}) — not a trainer output?"
            )
    with _open_model_file(path, "w", "utf-8") as f:
        for tok, _ in by_id:
            f.write(_esc_line(tok) + "\n")


def load_wordpiece(
    path: str,
    unk_token: str = "[UNK]",
    continuation_prefix: str = "##",
    max_word_chars: "int | None" = None,
    pretokenizer: str = "default",
) -> dict:
    """Load a BERT-format ``vocab.txt`` (third-party vocabularies
    included). ``unk_token`` must be present in the file. A model
    saved by :func:`save_wordpiece` and reloaded encodes
    identically. Loading a published BERT vocab: pass
    ``max_word_chars=100`` and ``pretokenizer`` to taste — BERT's
    BasicTokenizer pre-split differs from the GPT-2-ish default
    here, so cross-library id parity is NOT a contract, encoding
    self-consistency is."""
    vocab: "dict[str, int]" = {}
    with _open_model_file(path, "r", "utf-8") as f:
        for i, line in enumerate(f):
            tok = _unesc_line(line.rstrip("\n"))
            if not tok:
                raise ValueError(
                    f"empty vocab line {i} in {path} — ids are "
                    "line numbers, a blank line breaks alignment"
                )
            if tok in vocab:
                raise ValueError(
                    f"duplicate vocab entry {tok!r} at line {i} "
                    f"in {path}"
                )
            vocab[tok] = i
    if unk_token not in vocab:
        raise ValueError(
            f"unk_token {unk_token!r} not in vocab file {path}"
        )
    out = {
        "type": "wordpiece",
        "vocab": vocab,
        "unk_token": unk_token,
        "continuation_prefix": continuation_prefix,
        "max_word_chars": max_word_chars,
        "merges": [],
    }
    if pretokenizer != "default":
        _pre_re(pretokenizer)  # validate / fail fast
        out["pretokenizer"] = pretokenizer
    return out


def wordpiece_coverage_stats(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    group_by: "str | None" = None,
) -> DataFrame:
    """Vocabulary-coverage data card for a WordPiece tokenizer on a
    corpus — the :func:`~polaroam_spark.operators.unigram.\\
unigram_coverage_stats` twin for the third family, where the escape
    hatch is the LOSSY whole-word ``[UNK]`` rather than unigram's
    lossless byte fallback (which makes this report MORE
    decision-critical: every UNK is destroyed signal). Per group (or
    one corpus row): ``n_docs, n_tokens, n_unk_tokens`` (ids equal
    to the UNK id — by the whole-word rule, also the count of
    unencodable pre-tokens), ``unk_rate``, and
    ``n_distinct_pieces_used`` (vocab utilization — a vocabulary
    trained on the wrong domain shows a high UNK rate AND low
    utilization). The knob it informs: ``max_words`` at train time
    (a capped histogram drops tail-only characters from the
    alphabet, whose words then UNK — the trainer's loud warning,
    quantified here per corpus).

    Plan (the unigram twin's exactly): one persisted encode pass
    feeding two map-side-combined aggregations (the tokenizer core's
    coverage card). NULL texts are dropped; ``unk_rate`` is NULL for
    a zero-token group."""
    _require_family(model, "wordpiece")
    unk_id = int(model["vocab"][model.get("unk_token", "[UNK]")])
    return _coverage_stats(
        docs,
        model,
        text_col,
        group_by,
        lambda i: i == F.lit(unk_id),
        "unk",
    )


def prune_wordpiece_vocab(
    df: DataFrame,
    model: dict,
    target_vocab_size: int,
    text_col: str = "text",
    min_usage: int = 0,
    protected_tokens: "list[str] | None" = None,
) -> dict:
    """Shrink a trained WordPiece model to ``target_vocab_size`` by
    corpus usage — the :func:`~polaroam_spark.operators.unigram.
    prune_unigram_vocab` analog for the BERT family (shipping a 30k
    vocab into a domain that exercises 8k wastes embedding rows).

    The ALPHABET is protected: ``[UNK]`` and every single-character
    entry (word-initial and ``##``-continuation) always survive, so
    any word segmentable before pruning stays segmentable (greedy
    longest-match falls through to the character pieces) — the UNK
    set is EXACTLY unchanged and decode(encode(x)) keeps the
    original model's losslessness domain. Pruning multi-char pieces
    can only LENGTHEN segmentations, never destroy them (the
    family's version of the unigram byte-fallback floor; without
    the alphabet guard a pruned continuation would UNK whole words
    — silent signal loss).

    SPECIAL TOKENS are also protected: any vocab entry of the
    bracketed ``[TOK]`` form (``[PAD]``/``[CLS]``/``[SEP]``/
    ``[MASK]``/``[unused17]``…) survives by default even though
    :func:`wordpiece_encode` never emits it (usage 0) — a model
    loaded from a published BERT ``vocab.txt`` via
    :func:`load_wordpiece` must keep its control tokens or every
    downstream consumer that reserves them breaks. Pass
    ``protected_tokens`` to protect additional entries (e.g.
    ``<s>``-style specials from a non-BERT layout); every listed
    token must exist in the vocab or this raises — a silently
    ignored protection is worse than none.

    Multi-char pieces rank by usage count descending, then original
    id (train emission order) — deterministic; ``min_usage``
    additionally drops pieces used fewer than that many times. Kept
    entries re-id densely in ORIGINAL id order, so relative order
    is stable and every protected token keeps its rank among
    survivors; ``[UNK]`` keeps id 0 only when it was originally
    first (the ``train_wordpiece`` layout — published BERT vocabs
    place it at id 100, where it stays at its new dense rank). Plan
    shape: one distributed encode pass + an id-count aggregation
    bounded by vocab size — the train_bpe driver split.
    """
    _require_family(model, "wordpiece")
    vocab: "dict[str, int]" = model["vocab"]
    cp = model.get("continuation_prefix", "##")
    unk = model.get("unk_token", "[UNK]")

    def _content(t: str) -> str:
        return t[len(cp):] if t.startswith(cp) and t != cp else t

    explicit = list(protected_tokens or [])
    missing = [t for t in explicit if t not in vocab]
    if missing:
        raise ValueError(
            f"protected_tokens not in the vocab: {missing[:5]} — a "
            "protection that silently no-ops would still prune them"
        )
    protected = (
        {unk}
        | set(explicit)
        | {t for t in vocab if t != unk and len(_content(t)) == 1}
        | {
            t
            for t in vocab
            if _SPECIAL_FORM.fullmatch(t) is not None
        }
    )
    tgt = int(target_vocab_size)
    if tgt < len(protected):
        raise ValueError(
            f"target_vocab_size {target_vocab_size} is below the "
            f"protected alphabet size {len(protected)} — pruning "
            "the alphabet would UNK whole words"
        )
    if len(vocab) <= tgt and int(min_usage) <= 0:
        return dict(model)  # nothing to prune

    id_counts = _id_usage(df, model, text_col)
    prunable = sorted(
        (
            (t, id_counts.get(i, 0), i)
            for t, i in vocab.items()
            if t not in protected
        ),
        key=lambda x: (-x[1], x[2]),
    )
    budget = tgt - len(protected)
    kept_forms = protected | {
        t
        for t, n, _ in prunable[:budget]
        if n >= int(min_usage)
    }
    new_vocab = {
        t: new_id
        for new_id, (t, _) in enumerate(
            sorted(
                ((t, i) for t, i in vocab.items() if t in kept_forms),
                key=lambda x: x[1],
            )
        )
    }
    out = dict(model)
    out["vocab"] = new_vocab
    out["pruned_from"] = len(vocab)
    return out
