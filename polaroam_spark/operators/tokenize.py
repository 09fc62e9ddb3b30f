"""Real byte-level BPE tokenization — exact token ids and counts
from a GPT-2-format vocab/merges model, replacing the
``bpe_ish_token_count`` ESTIMATE (textstats.py) wherever downstream
decisions need the true token currency (packing plans, context
budgets, per-token costing).

Format and algorithm are the published byte-level BPE (Sennrich et
al., ACL 2016; Radford et al. 2019 use the byte-level variant):
text is pre-tokenized by a GPT-2-class regex, each pre-token's UTF-8
bytes are mapped through a fixed byte<->unicode bijection, and
adjacent symbol pairs merge greedily in learned rank order. Models
round-trip through the standard two-file layout (``vocab.json``:
token -> id; ``merges.txt``: one ranked ``a b`` pair per line), so a
model trained here loads anywhere that format does and vice versa.

Scale shape — training: BPE learns from the WORD-FREQUENCY
HISTOGRAM, not the corpus. One Spark pass (explode pre-tokens →
groupBy → count, map-side combined) reduces 100 TB of text to a
histogram whose size is the VOCABULARY of the corpus (Heaps' law:
~10^6 distinct words per 10^9 tokens), collected bounded with a loud
frequency-ranked cap; the merge loop then runs driver-side over that
histogram with incremental pair-count maintenance — the same split
every distributed BPE trainer uses, because the merge loop is
inherently sequential (merge N+1 depends on N) while the counting is
embarrassingly parallel.

Scale shape — encoding: a broadcast rank table (KBs..MBs for any
real vocab) + an Arrow-batched pandas UDF with a per-worker word
cache. Word frequency is Zipfian, so the cache converts the merge
loop into a dict lookup for the overwhelming share of tokens; the
UDF is the legitimate Python hot path here (the merge loop is not
expressible in Catalyst), batched, never per-row.

Python ``re`` has no ``\\p{L}``/``\\p{N}``; the DEFAULT pre-tokenizer
uses the documented Unicode-aware equivalents (``[^\\W\\d_]`` for
letters, ``\\d`` for decimal digits), a faithful partition of any
text but not byte-identical to tiktoken's splits on exotic numerals
(``Ⅻ``/``①`` — category Nl/No — classify as letters under ``\\w``,
as numerals under ``\\p{N}``). Pass ``pretokenizer="unicode"`` to
:func:`train_bpe` / :func:`load_bpe` / :func:`load_tiktoken` to use
the exact published GPT-2 split via the public ``regex`` module
(``\\p{L}``/``\\p{N}`` classes) — required for split-exact parity
when loading a third-party GPT-2/tiktoken model. Models are
self-describing: the flavor rides in the model dict, and
:func:`save_bpe` records it on the ``#version`` line (which
third-party loaders drop unread, so the files stay interoperable).

Reference parity: the reference engine has no tokenizer (its core is
trajectory analytics); this module is part of the beyond-reference
LLM-pipeline surface (build brief: text analysis / token counting).
"""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: GPT-2-class pre-tokenizer (see module docstring for the \p-class
#: relaxations). The alternatives jointly cover every character, so
#: ``"".join(findall(text)) == text`` — pre-tokenization never loses
#: or reorders a byte.
_PRETOKEN_RE = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+"
    r"|\s+(?!\S)|\s+",
    re.UNICODE,
)

#: the published GPT-2 pattern verbatim (Radford et al. 2019 /
#: tiktoken r50k_base) — needs the public ``regex`` module for the
#: \p character classes; same total-partition property.
_GPT2_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
    r"|\s+(?!\S)|\s+"
)

#: per-process compiled pattern cache keyed by flavor. Worker-side
#: closures capture only the flavor STRING and compile lazily here —
#: nothing pattern-shaped rides through pickle.
_PRE_RES: "dict[str, object]" = {"default": _PRETOKEN_RE}


def _pre_re(pretokenizer: str):
    """Compiled pre-tokenizer for a flavor: ``"default"`` (stdlib
    ``re``, the documented relaxation) or ``"unicode"`` (the exact
    GPT-2 ``\\p``-class split via the public ``regex`` module).
    Raises loudly when the flavor is unknown or ``regex`` is not
    installed — call on the driver before shipping a flavor to
    executors."""
    r = _PRE_RES.get(pretokenizer)
    if r is not None:
        return r
    if pretokenizer != "unicode":
        raise ValueError(
            f"unknown pretokenizer {pretokenizer!r}; "
            "expected 'default' or 'unicode'"
        )
    try:
        import regex
    except ImportError as e:  # pragma: no cover - env-dependent
        raise ImportError(
            "pretokenizer='unicode' needs the public 'regex' module "
            "(pip install regex); the 'default' flavor runs on the "
            "stdlib alone"
        ) from e
    r = regex.compile(_GPT2_PRETOKEN_PATTERN)
    _PRE_RES["unicode"] = r
    return r


def _bytes_to_unicode() -> "dict[int, str]":
    """The fixed byte<->printable-unicode bijection of byte-level BPE
    (independent re-derivation of the published mapping): the three
    printable latin ranges map to themselves; every other byte b gets
    the codepoint 256+k for the k-th such byte, keeping merges.txt
    printable and whitespace-free (' ' becomes 'Ġ', so a merges line
    'Ġthe' is unambiguous)."""
    keep = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    mapping = {b: chr(b) for b in keep}
    k = 0
    for b in range(256):
        if b not in mapping:
            mapping[b] = chr(256 + k)
            k += 1
    return mapping


_BYTE_TO_UNI = _bytes_to_unicode()
_UNI_TO_BYTE = {u: b for b, u in _BYTE_TO_UNI.items()}


def pretokenize(
    text: str, pretokenizer: str = "default"
) -> "list[str]":
    """Split text into pre-tokens (an exact partition — concatenating
    the result reproduces the input)."""
    return _pre_re(pretokenizer).findall(text)


def _word_to_symbols(word: str) -> "tuple[str, ...]":
    """UTF-8 bytes of a pre-token as unit symbols."""
    return tuple(_BYTE_TO_UNI[b] for b in word.encode("utf-8"))


def _apply_merges(
    symbols: "tuple[str, ...]", get_rank
) -> "tuple[str, ...]":
    """Greedy BPE: repeatedly take the best-ranked adjacent pair and
    merge ALL its occurrences left-to-right (one pass per selected
    pair — the standard apply order, which training mirrors).
    ``get_rank(a, b) -> int | None`` abstracts the priority source:
    merges-file pair ranks (GPT-2 layout) or vocab-concat ranks
    (tiktoken layout) — the two published encodings of the same
    merge history."""
    syms = list(symbols)
    while len(syms) > 1:
        best = None
        for i in range(len(syms) - 1):
            r = get_rank(syms[i], syms[i + 1])
            if r is not None and (best is None or r < best[0]):
                best = (r, syms[i], syms[i + 1])
        if best is None:
            break
        _, a, b = best
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return tuple(syms)


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def _word_histogram(
    df: DataFrame,
    text_col: str,
    max_words: int,
    flavor: str,
    trainer: str,
    learned: str,
) -> "list[tuple[str, int]]":
    """THE distributed training pass of every tokenizer family:
    the pre-token frequency histogram (explode → groupBy → count,
    map-side combined; NULL texts contribute nothing), top
    ``max_words`` by (count desc, word) — bounded and deterministic.

    One row past the cap is collected: a sentinel row means the
    corpus has more distinct pre-tokens than ``max_words``, which
    silently changes what ``trainer`` learns (``learned`` says what)
    — warn LOUDLY, pointing at the trainer's caller (same detection
    cost as the capped collect itself; no second counting job)."""
    _pre_re(flavor)  # fail fast on the driver

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _pretok(col: pd.Series) -> pd.Series:
        pre = _pre_re(flavor)
        return col.map(
            lambda t: None if t is None else pre.findall(t)
        )

    rows = (
        df.select(F.explode(_pretok(F.col(text_col))).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(int(max_words) + 1)
        .collect()
    )
    if len(rows) > int(max_words):
        import warnings

        warnings.warn(
            f"{trainer}: corpus has more than max_words="
            f"{int(max_words)} distinct pre-tokens; the frequency "
            "tail was dropped from the training histogram, which can "
            f"change the learned {learned}. Raise max_words to train "
            "on the full vocabulary.",
            stacklevel=3,
        )
        rows = rows[: int(max_words)]
    return [(r["w"], int(r["count"])) for r in rows]


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1024,
    max_words: int = 1_000_000,
    pretokenizer: str = "default",
) -> dict:
    """Learn a byte-level BPE model from a corpus: ONE distributed
    pass builds the pre-token frequency histogram (explode → groupBy
    → count, map-side combined; NULL texts contribute nothing), the
    top ``max_words`` by (count desc, word) are collected — bounded,
    deterministic, and at real corpus sizes a vocabulary-sized frame,
    not a corpus-sized one — and the merge loop runs driver-side over
    the histogram with incremental pair-count updates (each merge
    touches only the words containing the merged pair, via an
    inverted pair -> words index).

    ``vocab_size`` counts the 256 base byte symbols, so the number of
    learned merges is ``vocab_size - 256``. Ties in pair frequency
    break lexicographically — training is a pure function of the
    histogram. ``pretokenizer`` picks the split (see
    :func:`_pre_re`); the trained model remembers it. Returns
    ``{"vocab": {token: id}, "merges": [(a, b), ...]}``; ids are
    0..255 for base bytes (in byte-value order) then 256+rank per
    merge.
    """
    n_merges = int(vocab_size) - 256
    if n_merges < 0:
        raise ValueError(
            f"vocab_size must be >= 256 (got {vocab_size})"
        )
    # histogram as symbol tuples
    words: "dict[tuple[str, ...], int]" = {}
    for w, c in _word_histogram(
        df, text_col, max_words, pretokenizer, "train_bpe", "merges"
    ):
        syms = _word_to_symbols(w)
        words[syms] = words.get(syms, 0) + c

    import heapq
    from collections import Counter, defaultdict

    pair_counts: Counter = Counter()
    pair_words: "defaultdict[tuple, set]" = defaultdict(set)
    word_list = list(words.items())  # (symbols, freq), mutable slots
    for wi, (syms, freq) in enumerate(word_list):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += freq
            pair_words[p].add(wi)

    # lazy max-heap over (count, pair): stale entries are re-pushed
    # on every count change and skipped at pop time if they disagree
    # with the live Counter — selection is O(log #pairs) per merge
    # instead of a full scan, which is what makes a 50k-merge train
    # over a million-word histogram tractable. Ordering (-count,
    # pair) makes ties break toward the lexicographically-smallest
    # pair: training is a pure function of the histogram.
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    def _push(p):
        heapq.heappush(heap, (-pair_counts[p], p))

    # every token string produced so far (256 base symbols + merges):
    # a candidate pair whose concatenation is already produced (e.g.
    # (a, bc) after (ab, c) both yielding 'abc') is skipped — two
    # merges with one concatenation would collide on the vocab.json
    # key, leaving a hole in the id space and a vocab/merges pair
    # that disagree for third-party GPT-2-format loaders
    produced = {_BYTE_TO_UNI[b] for b in range(256)}
    merges: "list[tuple[str, str]]" = []
    for _ in range(n_merges):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p) != -negc:
                continue
            if p[0] + p[1] in produced:
                # unmergeable forever (produced only grows): retire
                # the pair so stale heap entries never re-select it
                del pair_counts[p]
                pair_words.pop(p, None)
                continue
            best = p
            break
        if best is None:
            break
        merges.append(best)
        a, b = best
        merged = a + b
        produced.add(merged)
        # rewrite only the words containing the pair
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
            # retract old adjacencies, add new ones
            touched = set()
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
            for p in touched:
                if p in pair_counts:
                    _push(p)
            word_list[wi] = (new, freq)

    vocab: "dict[str, int]" = {
        _BYTE_TO_UNI[b]: b for b in range(256)
    }
    for rank, (a, b) in enumerate(merges):
        vocab[a + b] = 256 + rank
    out = {"vocab": vocab, "merges": merges}
    if pretokenizer != "default":
        out["pretokenizer"] = pretokenizer
    return out


def _open_model_file(path: str, mode: str, encoding: str):
    """Open a tokenizer model file for text I/O, routing URI paths
    (``s3://…``, ``file://…``, ``hdfs://…``) through ``pyarrow.fs``
    (the same ``_fs_for`` abstraction the WARC source uses) so a
    cluster whose driver persists to an object store can save and
    load a tokenizer; plain paths stay on the direct POSIX
    fast path."""
    import io

    from polaroam_spark.sources.warc import _fs_for

    filesystem, local = _fs_for(path)
    if filesystem is None:
        return open(local, mode, encoding=encoding)
    if mode == "w":
        return io.TextIOWrapper(
            filesystem.open_output_stream(local), encoding=encoding
        )
    return io.TextIOWrapper(
        filesystem.open_input_stream(local), encoding=encoding
    )


def save_bpe(model: dict, vocab_path: str, merges_path: str) -> None:
    """Write the standard two-file layout: ``vocab.json`` (token ->
    id) and ``merges.txt`` (version header + one ranked pair per
    line). Paths may be URIs (object store / ``file://``) — see
    :func:`_open_model_file`. A non-default pre-tokenizer flavor is
    recorded ON the version line (third-party GPT-2 loaders drop the
    first line unread, so the file stays interoperable; ours reads it
    back)."""
    with _open_model_file(vocab_path, "w", "utf-8") as f:
        json.dump(model["vocab"], f, ensure_ascii=False)
    flavor = model.get("pretokenizer", "default")
    with _open_model_file(merges_path, "w", "utf-8") as f:
        if flavor == "default":
            f.write("#version: 0.2\n")
        else:
            f.write(f"#version: 0.2 pretokenizer={flavor}\n")
        for a, b in model["merges"]:
            f.write(f"{a} {b}\n")


def load_bpe(
    vocab_path: str,
    merges_path: str,
    pretokenizer: "str | None" = None,
) -> dict:
    """Load a GPT-2-format model (``vocab.json`` + ``merges.txt``).
    Paths may be URIs — see :func:`_open_model_file`. The
    pre-tokenizer flavor comes from the ``#version`` line when
    :func:`save_bpe` recorded one there; pass ``pretokenizer=
    "unicode"`` explicitly for a third-party GPT-2 model when you
    want split-exact parity with its published \\p-class regex."""
    with _open_model_file(vocab_path, "r", "utf-8") as f:
        vocab = {k: int(v) for k, v in json.load(f).items()}
    merges = []
    flavor = pretokenizer
    with _open_model_file(merges_path, "r", "utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            if line.startswith("#version"):
                if flavor is None and "pretokenizer=" in line:
                    flavor = line.split("pretokenizer=", 1)[1].split()[0]
                continue
            a, b = line.split(" ")
            merges.append((a, b))
    out = {"vocab": vocab, "merges": merges}
    if flavor and flavor != "default":
        _pre_re(flavor)  # validate / fail fast
        out["pretokenizer"] = flavor
    return out


# ---------------------------------------------------------------------------
# the tokenizer core: one family dispatch, one encode loop, one set of
# Arrow encode / count / decode wrappers for BPE, unigram and WordPiece
# ---------------------------------------------------------------------------

#: per-worker word -> ids cache cap; Zipfian corpora hit >99% at a
#: fraction of this. Cleared wholesale at the cap (O(1) amortized,
#: no LRU bookkeeping on the hot path).
_CACHE_CAP = 200_000

#: what each family's model looks like, for the loud wrong-family
#: error of the family-named entry points
_FAMILY_MODELS = {
    "bpe": "a BPE model (train_bpe/load_bpe/load_tiktoken output, "
    "no 'type' key)",
    "unigram": "a unigram model (train_unigram/load_unigram output "
    "with type='unigram')",
    "wordpiece": "a wordpiece model (train_wordpiece/load_wordpiece "
    "output with type='wordpiece')",
}


def _family(model: dict) -> str:
    """The model's tokenizer family: its ``type`` key (``unigram``,
    ``wordpiece``); BPE models carry none."""
    return model.get("type", "bpe")


def _require_family(model: dict, family: str) -> None:
    if _family(model) != family:
        raise ValueError(f"expected {_FAMILY_MODELS[family]}")


def _for_family(family: str, fn):
    """``fn`` (a core function taking a ``model`` argument) restricted
    to ``family``'s models — how the family-named public entry points
    (``bpe_encode``, ``unigram_decode``, ``encode_text_wordpiece`` …)
    share one implementation and still reject another family's model
    with a loud ValueError."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def only(*args, **kwargs):
        model = sig.bind(*args, **kwargs).arguments["model"]
        _require_family(model, family)
        return fn(*args, **kwargs)

    return only


def _bpe_segmenter(model: dict):
    """(pre-token -> ids) for BPE: the greedy merge walk over the
    pre-token's byte symbols. Merge priority is the merges-file pair
    rank (GPT-2 layout) or, for a tiktoken-layout model, the rank (==
    id) of the concatenation — a pair merges iff it is in the vocab."""
    vocab = model["vocab"]
    if model.get("rank_by_concat"):

        def get_rank(a: str, b: str):
            return vocab.get(a + b)

    else:
        ranks = {p: r for r, p in enumerate(model["merges"])}

        def get_rank(a: str, b: str):
            return ranks.get((a, b))

    def segment(word: str) -> "list[int]":
        return [
            vocab[s]
            for s in _apply_merges(_word_to_symbols(word), get_rank)
        ]

    return segment


def _family_parts(model: dict):
    """THE ``model["type"]`` dispatch: the family's (segmenter, decode
    table) builders — BPE merge walk, unigram Viterbi with byte
    fallback, WordPiece longest match. The family modules import from
    this one, so theirs are imported here, at call time."""
    family = _family(model)
    if family == "unigram":
        from polaroam_spark.operators.unigram import (
            _id_to_bytes_unigram,
            _unigram_segmenter,
        )

        return _unigram_segmenter, _id_to_bytes_unigram
    if family == "wordpiece":
        from polaroam_spark.operators.wordpiece import (
            _id_to_bytes_wordpiece,
            _wordpiece_segmenter,
        )

        return _wordpiece_segmenter, _id_to_bytes_wordpiece
    return _bpe_segmenter, _id_to_bytes


def _encoder(model: dict):
    """(text -> list[int]) closure for a model of any family — shared
    by the distributed UDFs, the driver-side helpers and the SFT
    encoders so there is exactly one encode semantics. The family's
    segmenter is picked ONCE here; per text the loop pre-tokenizes,
    serves repeated pre-tokens from a per-worker word cache and
    segments only cache misses. When the model carries ``special``
    tokens (see :func:`add_special_tokens`), their occurrences encode
    ATOMICALLY — the text splits at them first, so a special can
    never be produced by merging ordinary bytes and ordinary text can
    never leak into a special id."""
    segment = _family_parts(model)[0](model)
    flavor = model.get("pretokenizer", "default")
    _pre_re(flavor)  # fail fast on the driver
    special: "dict[str, int]" = model.get("special") or {}
    special_re = (
        re.compile(
            "(" + "|".join(
                re.escape(t)
                for t in sorted(special, key=len, reverse=True)
            ) + ")"
        )
        if special
        else None
    )
    cache: "dict[str, list[int]]" = {}

    def _encode_plain(text: str, ids: "list[int]") -> None:
        for word in _pre_re(flavor).findall(text):
            hit = cache.get(word)
            if hit is None:
                hit = segment(word)
                if len(cache) >= _CACHE_CAP:
                    cache.clear()
                cache[word] = hit
            ids.extend(hit)

    def encode(text: "str | None") -> "list[int] | None":
        if text is None:
            return None
        ids: "list[int]" = []
        if special_re is None:
            _encode_plain(text, ids)
            return ids
        for seg in special_re.split(text):
            if not seg:
                continue
            sid = special.get(seg)
            if sid is not None:
                ids.append(sid)
            else:
                _encode_plain(seg, ids)
        return ids

    return encode


def add_special_tokens(model: dict, tokens: "list[str]") -> dict:
    """Return a NEW model with ``tokens`` registered as special
    tokens (document boundaries, padding, instruction markers): ids
    continue after the model's current maximum, encoding is atomic
    (never produced or split by BPE merges), decoding emits the
    literal text. This is what makes pack/separator token accounting
    EXACT — ``materialize_packs`` can count its ``<|endoftext|>``
    separators as real single tokens instead of punting to the
    loader. Specials are runtime state (the GPT-2 two-file format
    has no slot for them); persist them yourself or re-add after
    :func:`load_bpe`."""
    out = {
        "vocab": dict(model["vocab"]),
        "merges": list(model["merges"]),
        "special": dict(model.get("special") or {}),
    }
    # carry the behavioral keys — dropping rank_by_concat would
    # silently turn a tiktoken-layout model into byte-level-only
    # encoding, and dropping the pretokenizer would change splits
    for k in ("rank_by_concat", "pretokenizer"):
        if k in model:
            out[k] = model[k]
    nid = max(out["vocab"].values(), default=-1) + 1
    if out["special"]:
        nid = max(nid, max(out["special"].values()) + 1)
    for t in tokens:
        if not t:
            raise ValueError("special tokens must be non-empty")
        if t not in out["special"]:
            out["special"][t] = nid
            nid += 1
    return out


def _encode(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "token_ids",
) -> DataFrame:
    """Append exact token ids (``array<int>``) for every row. The
    model's tables ride to executors inside the serialized pandas UDF
    (KBs..MBs — broadcast semantics without a join); each Arrow batch
    amortizes the per-worker word cache. NULL in → NULL out."""
    mk = _encoder(model)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(col: pd.Series) -> pd.Series:
        return col.map(mk)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def _token_count(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "n_tokens",
) -> DataFrame:
    """Append the EXACT token count (``long``) per row — the true
    currency for packing plans and context budgets (replaces the
    ``bpe_ish_token_count`` estimate). NULL in → NULL out."""
    mk = _encoder(model)

    @F.pandas_udf(T.LongType())
    def _cnt(col: pd.Series) -> pd.Series:
        return col.map(
            lambda t: None if t is None else len(mk(t))
        ).astype("Int64")

    return df.withColumn(out_col, _cnt(F.col(text_col)))


def _id_to_bytes(model: dict) -> dict:
    """BPE's id → raw bytes decode table: vocab tokens map through
    the byte<->unicode bijection, special tokens to their literal
    UTF-8."""
    out = {
        i: bytes(_UNI_TO_BYTE[u] for u in t)
        for t, i in model["vocab"].items()
    }
    for t, i in (model.get("special") or {}).items():
        out[i] = t.encode("utf-8")
    return out


def _decode_ids(table: dict, ids) -> "str | None":
    """ids → bytes → UTF-8 text (lossy on invalid sequences) through a
    family's id → bytes table. THE decode path — every decode surface
    calls this one function so they cannot drift."""
    if ids is None:
        return None
    return b"".join(table[int(i)] for i in ids).decode(
        "utf-8", errors="replace"
    )


def _decode(
    df: DataFrame,
    model: dict,
    ids_col: str = "token_ids",
    out_col: str = "decoded",
) -> DataFrame:
    """Invert the encode, distributed: ids → bytes → UTF-8 text.
    Byte-level BPE and unigram byte fallback are lossless, so
    ``decode(encode(df)) == df`` exactly — the roundtrip IS the
    correctness certificate a gate can pin; WordPiece is exact
    whenever no word hit ``[UNK]`` (its literal text is emitted).
    NULL in → NULL out."""
    table = _family_parts(model)[1](model)

    @F.pandas_udf(T.StringType())
    def _dec(col: pd.Series) -> pd.Series:
        return col.map(lambda ids: _decode_ids(table, ids))

    return df.withColumn(out_col, _dec(F.col(ids_col)))


def encode_text(model: dict, text: str) -> "list[int]":
    """Driver-side single-string encode, any family (tests, spot
    checks)."""
    return _encoder(model)(text)


def decode_ids(model: dict, ids: "list[int]") -> str:
    """Driver-side single-list decode, any family."""
    return _decode_ids(_family_parts(model)[1](model), ids)


bpe_encode = _for_family("bpe", _encode)
bpe_token_count = _for_family("bpe", _token_count)
bpe_decode = _for_family("bpe", _decode)


def _coverage_stats(
    docs: DataFrame,
    model: dict,
    text_col: str,
    group_by: "str | None",
    escape,
    escape_name: str,
) -> DataFrame:
    """The vocabulary-coverage data card (see
    ``unigram_coverage_stats`` / ``wordpiece_coverage_stats``): per
    group (or one corpus row) ``n_docs, n_tokens,
    n_{escape_name}_tokens`` — ids for which ``escape(id)`` holds, the
    family's escape hatch firing — ``{escape_name}_rate`` and
    ``n_distinct_pieces_used`` over the other ids.

    Plan: ONE encode pass feeding two aggregations — the count
    columns are array expressions over the id array (map-side
    combined), and the distinct-piece count explodes the per-doc
    DISTINCT pieces (bounded by doc-vocab overlap) into a standard
    partial-distinct countDistinct — never a corpus-scaled
    aggregation buffer (a collect_list of per-doc arrays would be
    one). The persist makes the shared encode execute once for both
    consumers (the dsir pattern; registered with unpersist_caches).
    NULL texts are dropped; the rate is NULL for a zero-token
    group."""
    from ..cache import track

    n_escaped = f"n_{escape_name}_tokens"
    enc = _encode(
        docs.filter(F.col(text_col).isNotNull()), model, text_col,
        out_col="_ids",
    )
    keys = [group_by] if group_by else []
    proj = track(
        enc.select(
            *keys,
            F.array_size("_ids").alias("_n"),
            F.size(F.filter("_ids", escape)).alias("_esc"),
            F.array_distinct(
                F.filter("_ids", lambda i: ~escape(i))
            ).alias("_pieces"),
        ).persist()
    )
    counts = proj.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("_n").alias("n_tokens"),
        F.sum("_esc").alias(n_escaped),
    )
    pieces = (
        proj.select(*keys, F.explode("_pieces").alias("_p"))
        .groupBy(*keys)
        .agg(
            F.countDistinct("_p")
            .cast("long")
            .alias("n_distinct_pieces_used")
        )
    )
    agg = (
        counts.join(pieces, on=keys, how="left")
        if keys
        else counts.crossJoin(F.broadcast(pieces))
    )
    agg = agg.withColumn(
        "n_distinct_pieces_used",
        F.coalesce(F.col("n_distinct_pieces_used"), F.lit(0)),
    )
    return agg.select(
        *keys,
        "n_docs",
        "n_tokens",
        n_escaped,
        F.when(
            F.col("n_tokens") > 0,
            F.col(n_escaped).cast("double")
            / F.col("n_tokens").cast("double"),
        ).alias(f"{escape_name}_rate"),
        "n_distinct_pieces_used",
    )


def _id_usage(df: DataFrame, model: dict, text_col: str) -> dict:
    """id → occurrence count over ``df``'s encoded texts — the usage
    ranking of ``prune_unigram_vocab`` / ``prune_wordpiece_vocab``:
    one distributed encode pass + explode + a count aggregation
    bounded by the vocab size (map-side combined)."""
    enc = _encode(df, model, text_col, out_col="_ids")
    return {
        r._id: r._n
        for r in enc.filter(F.col("_ids").isNotNull())
        .select(F.explode("_ids").alias("_id"))
        .groupBy("_id")
        .agg(F.count("*").alias("_n"))
        .collect()  # bounded: <= |vocab| rows
    }


def chunk_documents_bpe(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    overlap: int = 0,
    drop_empty: bool = True,
) -> DataFrame:
    """Chunk documents by EXACT token budget: one row per (document,
    chunk) with ``chunk_id, token_ids, n_tokens, chunk_text`` — the
    context-window cutter for a training loader, where "512 tokens"
    must mean 512 of the tokenizer's tokens, not 512 whitespace
    words (``chunk_documents`` is the whitespace variant; this one
    guarantees every emitted window fits the model's context).

    Plan shape: ONE encode UDF pass produces the id array, the
    window arithmetic is pure JVM array expressions (sequence →
    slice → posexplode, the same stride/overlap contract as
    ``chunk_documents``), and chunk text is decoded back per window.
    ``token_ids`` is the lossless product: concatenating a
    document's ``overlap=0`` id windows reproduces ``bpe_encode``'s
    array exactly. ``chunk_text`` is the human-readable render — a
    window boundary that splits a multi-byte character's byte tokens
    decodes the partial sequence as U+FFFD at that seam (the loader
    consumes ids, where no information is lost; on ASCII text the
    texts concatenate exactly too). NULL text yields no rows when
    ``drop_empty`` else one empty chunk.
    """
    if not 0 <= int(overlap) < int(chunk_tokens):
        raise ValueError(
            "overlap must satisfy 0 <= overlap < chunk_tokens"
        )
    stride = int(chunk_tokens) - int(overlap)
    encoded = bpe_encode(docs, model, text_col, out_col="_ids")
    n = F.array_size("_ids")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(int(overlap))) / F.lit(stride)), F.lit(1)
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.slice("_ids", i * stride + 1, int(chunk_tokens)),
    )
    out = _decode(
        encoded.select(
            F.col(id_col),
            F.posexplode(
                F.when(F.col("_ids").isNotNull(), windows).otherwise(
                    F.array(F.array().cast("array<int>"))
                )
            ).alias("chunk_id", "token_ids"),
        ).select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "token_ids",
            F.array_size("token_ids").cast("long").alias("n_tokens"),
        ),
        model,
        out_col="chunk_text",
    )
    if drop_empty:
        out = out.filter(F.col("n_tokens") > 0)
    return out


def save_tiktoken(model: dict, path: str) -> None:
    """Write the model in the tiktoken single-file layout: one
    ``base64(token_bytes) rank`` line per vocab entry, rank == id.
    Valid for models whose merge order matches id order (true of
    every :func:`train_bpe` model and every GPT-2-format load) —
    that is exactly the property that makes the two layouts encode
    identically. Special tokens are runtime state in both layouts
    and are not persisted. The path may be a URI — see
    :func:`_open_model_file`. The single-file layout has no slot for
    the pre-tokenizer flavor (every line must be ``b64 rank``) —
    saving a non-default-flavor model warns; pass the flavor back to
    :func:`load_tiktoken` yourself."""
    import base64

    if model.get("pretokenizer", "default") != "default":
        import warnings

        warnings.warn(
            "save_tiktoken: the tiktoken layout cannot record the "
            f"pretokenizer={model['pretokenizer']!r} flavor; pass "
            "pretokenizer= to load_tiktoken when reloading or the "
            "splits will differ",
            stacklevel=2,
        )
    with _open_model_file(path, "w", "ascii") as f:
        for tok, i in sorted(
            model["vocab"].items(), key=lambda kv: kv[1]
        ):
            data = bytes(_UNI_TO_BYTE[u] for u in tok)
            f.write(
                base64.b64encode(data).decode("ascii") + f" {i}\n"
            )


def load_tiktoken(path: str, pretokenizer: str = "default") -> dict:
    """Load a tiktoken-format file (``base64(token_bytes) rank``
    lines — the cl100k/o200k publication layout). The returned model
    encodes by VOCAB-CONCAT rank (a pair merges iff its concatenated
    bytes are a vocab entry, lowest rank first) — tiktoken's own
    algorithm, equivalent to merges-rank encoding whenever ranks
    follow merge-creation order, which the format guarantees by
    construction. Pre-tokenization defaults to THIS module's stdlib
    regex; pass ``pretokenizer="unicode"`` for the published
    \\p-class split when loading a third-party model (see the module
    docstring). A model saved by :func:`save_tiktoken` and reloaded
    is exactly self-consistent. The path may be a URI — see
    :func:`_open_model_file`."""
    import base64

    vocab: "dict[str, int]" = {}
    with _open_model_file(path, "r", "ascii") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            b64, rank = line.split(" ")
            data = base64.b64decode(b64)
            vocab["".join(_BYTE_TO_UNI[b] for b in data)] = int(rank)
    out = {"vocab": vocab, "merges": [], "rank_by_concat": True}
    if pretokenizer != "default":
        _pre_re(pretokenizer)  # validate / fail fast
        out["pretokenizer"] = pretokenizer
    return out


def pack_token_stream(
    docs: DataFrame,
    model: "dict | None",
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    eot: "str | None" = "<|endoftext|>",
    num_shards: int = 256,
    drop_remainder: bool = True,
    max_shard_tokens: int = 100_000_000,
    ids_col: "str | None" = None,
    eot_id: "int | None" = None,
) -> DataFrame:
    """GPT-style pretraining packing: CONCATENATE the corpus into a
    token stream (documents joined by the ``eot`` special token) and
    cut it into fixed ``seq_len`` windows — every sequence is exactly
    full, no padding at all, documents crossing window boundaries by
    design (the standard causal-LM data prep, vs
    :func:`chunk_documents_bpe` which never splits across documents
    and :func:`~polaroam_spark.operators.chunking.packing_plan`
    which packs whole chunks and eats padding).

    Scale shape: encode is one Arrow pass; the stream order is
    per-SHARD (deterministic hash of ``id_col`` into ``num_shards``
    groups, documents ordered by id within the shard — the exact
    layout of writing one pretokenized file per worker), and each
    shard's concat+cut runs in one ``applyInPandas`` group whose
    input is the shard's (id, ids) arrays. A shard must fit a worker
    (corpus tokens / num_shards — size ``num_shards`` accordingly);
    global total order would serialize the corpus through one task
    and buy nothing a causal LM can observe. ``max_shard_tokens``
    enforces that contract LOUDLY: each shard task checks its total
    token count (a cheap sum over array lengths, before any stream
    is built) and raises with a num_shards sizing hint instead of
    letting an under-sharded 100×-scale run OOM an executor with an
    opaque error (the same estimate-and-raise pattern as the DBSCAN
    coordinate guard). The stream itself is a packed numpy int32
    array — 4 bytes/token, so the default 1e8-token cap costs
    ~400 MB of task memory, an envelope one executor task survives.
    Shard order is ``(id, ids-bytes)``, deterministic even under
    duplicate ids.

    ``drop_remainder``: each shard's tail short window is dropped
    (default, the training-loader convention) or emitted short.
    Returns ``shard, seq_id, token_ids, n_tokens`` — ``(shard,
    seq_id)`` is a stable global sequence identity. Deterministic:
    a pure function of (corpus, model, seq_len, num_shards).

    ``ids_col``: pack PRE-ENCODED ids instead of encoding text —
    the composition hook for transformed streams (FIM output,
    span-corruption inputs, any objectives.py product): pass the
    array column name, ``model=None``, and optionally an explicit
    ``eot_id`` separator (``eot``/``eot_id`` semantics: with
    ``ids_col`` the string ``eot`` is ignored and documents are
    joined by ``eot_id`` when given, back-to-back when None —
    pre-encoded ids may already carry their own separators).
    Passing ``eot_id`` WITHOUT ``ids_col`` raises (in text mode the
    separator id is derived from the ``eot`` special token; a
    silently ignored override would be a seam for wrong packs)."""
    import pandas as pd

    L = int(seq_len)
    if L < 1:
        raise ValueError(f"seq_len must be >= 1 (got {seq_len})")
    if ids_col is not None:
        if model is not None:
            raise ValueError(
                "pack_token_stream: pass model=None with ids_col — "
                "pre-encoded ids are packed as-is"
            )
        eot = None if eot_id is None else eot
        enc = docs.select(
            F.col(id_col).alias("_id"),
            F.col(ids_col).alias("_ids"),
            F.pmod(F.xxhash64(id_col), F.lit(int(num_shards))).alias(
                "_shard"
            ),
        )
        if eot_id is not None:
            eot = "<ids>"  # non-None flag for the cut loop
            eot_id = int(eot_id)
    else:
        if eot_id is not None:
            raise ValueError(
                "pack_token_stream: eot_id is only meaningful with "
                "ids_col (pre-encoded streams); in text mode the "
                "separator id comes from the eot special token"
            )
        m = model
        if eot is not None:
            m = add_special_tokens(model, [eot])
            eot_id = m["special"][eot]
        enc = bpe_encode(
            docs.select(id_col, text_col), m, text_col, out_col="_ids"
        ).select(
            F.col(id_col).alias("_id"),
            "_ids",
            F.pmod(F.xxhash64(id_col), F.lit(int(num_shards))).alias(
                "_shard"
            ),
        )

    cap = int(max_shard_tokens)

    def _cut(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard = int(key[0])
        shard_tokens = int(
            pdf["_ids"].map(lambda x: 0 if x is None else len(x)).sum()
        )
        if shard_tokens > cap:
            raise ValueError(
                f"pack_token_stream: shard {shard} holds "
                f"{shard_tokens} tokens > max_shard_tokens={cap}; "
                "raise num_shards (target corpus_tokens / num_shards "
                "well under the cap) or raise max_shard_tokens if "
                "the workers have the memory for it"
            )
        # Deterministic under duplicate _id: bytes of the encoded
        # ids as a secondary sort key (compact, no boxed tuples).
        pdf = pdf.assign(
            _bk=pdf["_ids"].map(
                lambda a: b""
                if a is None
                else np.asarray(a, dtype=np.int64).tobytes()
            )
        ).sort_values(["_id", "_bk"], kind="mergesort")
        # Packed int32 stream: 4 bytes/token, so the documented
        # 100M-token max_shard_tokens cap is ~400 MB in the task —
        # vs ~3 GB+ of boxed Python ints the list version held.
        arrs: "list" = []
        eot_arr = (
            np.asarray([eot_id], dtype=np.int32)
            if eot is not None
            else None
        )
        for ids in pdf["_ids"]:
            if ids is None:
                continue
            arrs.append(np.asarray(ids, dtype=np.int32))
            if eot_arr is not None:
                arrs.append(eot_arr)
        stream = (
            np.concatenate(arrs)
            if arrs
            else np.empty(0, dtype=np.int32)
        )
        arrs = []  # free the per-row views
        out = []
        n_full = len(stream) // L
        for s in range(n_full):
            out.append((shard, s, stream[s * L : (s + 1) * L], L))
        rem = len(stream) - n_full * L
        if rem and not drop_remainder:
            out.append(
                (shard, n_full, stream[n_full * L :], rem)
            )
        return pd.DataFrame(
            out, columns=["shard", "seq_id", "token_ids", "n_tokens"]
        )

    return enc.groupBy("_shard").applyInPandas(
        _cut,
        schema="shard int, seq_id long, token_ids array<int>, "
        "n_tokens long",
    )


def tokenizer_stats(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    group_by: "str | None" = None,
) -> DataFrame:
    """Tokenizer-evaluation aggregate — the comparison table for
    choosing a tokenizer on a corpus (Rust/Scao et al.'s "fertility"
    metric and friends): per group (or one corpus row when
    ``group_by`` is None) the exact ``n_docs, n_words, n_chars,
    n_bytes, n_tokens`` plus ``fertility`` (tokens per whitespace
    word — near 1 means the vocab fits the text; ≫ 2 means it
    splinters), ``bytes_per_token`` and ``chars_per_token``
    (compression). Grouping by source/language column surfaces
    tokenizer unfairness across languages directly.

    Plan: ONE encode pass (the count is ``array_size`` of the ids it
    produces — never a second merge pass) + one map-side-combined
    aggregation; output is #groups rows. NULL texts are dropped;
    ratio columns are NULL for a group with zero words/tokens. A
    merge-free 256-vocab model gives ``n_tokens == n_bytes`` exactly
    (byte-level BPE identity) — the oracle twin the t38 gate pins.

    ``model`` may be any tokenizer family: a BPE model (this
    module), a unigram model (``unigram.py``) or a WordPiece model
    (``wordpiece.py``) — the whole point of the table is comparing
    the families on one corpus."""
    words = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"),
            lambda t: t != "",
        )
    )
    enc = _encode(
        docs.filter(F.col(text_col).isNotNull()), model, text_col,
        out_col="_ids",
    ).select(
        *( [group_by] if group_by else [] ),
        words.alias("_w"),
        F.length(text_col).alias("_c"),
        F.octet_length(F.encode(F.col(text_col), "UTF-8")).alias("_b"),
        F.array_size("_ids").alias("_t"),
    )
    keys = [group_by] if group_by else []
    agg = enc.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_c").alias("n_chars"),
        F.sum("_b").alias("n_bytes"),
        F.sum("_t").alias("n_tokens"),
    )
    return agg.select(
        *keys,
        "n_docs",
        "n_words",
        "n_chars",
        "n_bytes",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.col("n_tokens") / F.col("n_words"),
        ).alias("fertility"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_bytes") / F.col("n_tokens"),
        ).alias("bytes_per_token"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_chars") / F.col("n_tokens"),
        ).alias("chars_per_token"),
    )
