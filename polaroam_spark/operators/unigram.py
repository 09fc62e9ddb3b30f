"""SentencePiece-style UNIGRAM-LM tokenizer (Kudo 2018, "Subword
Regularization", §3) — the second tokenizer family next to
``tokenize.py``'s BPE, so :func:`tokenizer_stats` can compare
fertility/compression across families on the same corpus (which is
what that table is for).

Published formulation, re-expressed with the package's
parallel-count / driver-solve split (the train_bpe shape):

- **Training**: ONE distributed pass builds the pre-token frequency
  histogram (explode → groupBy → count, map-side combined — the
  identical pass train_bpe makes); the EM + prune loop then runs
  driver-side over that bounded, vocabulary-sized table. Seed
  pieces are the top substrings by ``frequency × length`` (the
  paper's seeding heuristic) plus EVERY single character seen —
  characters are never pruned, so a segmentation path always
  exists. Each outer round runs ``em_iters`` full EM steps
  (E: forward–backward expected piece counts over each histogram
  word, weighted by its frequency; M: maximum-likelihood
  renormalization — the paper's EM with the plain ML M-step) and
  then prunes to ``shrink`` of the current size by the paper's
  loss ranking: ``loss(p) ≈ E[count(p)] · (logp(p) − alt(p))``
  where ``alt(p)`` is the best segmentation of ``p`` using the
  OTHER pieces — how much total log-likelihood is lost if every
  use of ``p`` falls back to its own best decomposition.

- **Encoding**: per pre-token Viterbi (the paper's decoding — the
  single best segmentation under the piece log-probabilities),
  with SentencePiece's ``--byte_fallback`` contract: ids 0..255
  are reserved byte tokens ``<0x00>``..``<0xFF>`` and any
  character with no piece path encodes as its UTF-8 bytes — so
  ``decode(encode(x)) == x`` EXACTLY for any input, trained
  vocabulary or not (the roundtrip a gate can pin). Pre-tokens
  come from the same exact-partition regex as BPE (concatenating
  pre-tokens reproduces the text), so losslessness composes.
  Ties in Viterbi score break toward the LONGER piece ending at
  the position, then lexicographically — encoding is a pure
  function of the model.

Reference parity note: the reference engine (PolaRoam) has no
tokenizer surface at all — this module is beyond-reference
LLM-pipeline capability, built from the published paper only.
"""
from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

#: SentencePiece byte-fallback token strings, ids 0..255.
_BYTE_TOKENS = [f"<0x{b:02X}>" for b in range(256)]
_BYTE_TOKEN_ID = {t: i for i, t in enumerate(_BYTE_TOKENS)}


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def _forward_backward(
    word: str,
    freq: int,
    logp: "dict[str, float]",
    max_len: int,
    counts: "dict[str, float]",
) -> float:
    """One E-step accumulation: add ``freq ×`` the expected piece
    counts of ``word``'s segmentations to ``counts`` and return
    ``freq × logZ`` (the word's contribution to the corpus
    log-likelihood). Assumes every single character of ``word`` has
    a piece (the trainer guarantees it)."""
    n = len(word)
    neg = float("-inf")
    alpha = [neg] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        acc = neg
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is None or alpha[j] == neg:
                continue
            v = alpha[j] + lp
            if acc == neg:
                acc = v
            elif v > acc:
                acc = v + math.log1p(math.exp(acc - v))
            else:
                acc = acc + math.log1p(math.exp(v - acc))
        alpha[i] = acc
    z = alpha[n]
    if z == neg:  # pragma: no cover - guarded by char seeding
        raise RuntimeError(
            f"unigram E-step: no segmentation path for {word!r}"
        )
    beta = [neg] * (n + 1)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        acc = neg
        for j in range(i + 1, min(n, i + max_len) + 1):
            lp = logp.get(word[i:j])
            if lp is None or beta[j] == neg:
                continue
            v = lp + beta[j]
            if acc == neg:
                acc = v
            elif v > acc:
                acc = v + math.log1p(math.exp(acc - v))
            else:
                acc = acc + math.log1p(math.exp(v - acc))
        beta[i] = acc
    for i in range(n):
        if alpha[i] == neg:
            continue
        for j in range(i + 1, min(n, i + max_len) + 1):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None or beta[j] == neg:
                continue
            counts[piece] = counts.get(piece, 0.0) + freq * math.exp(
                alpha[i] + lp + beta[j] - z
            )
    return freq * z


def _viterbi(
    word: str, logp: "dict[str, float]", max_len: int
) -> "tuple[list[str], float] | None":
    """Best segmentation of ``word`` into pieces, or None when no
    path exists. Ties break toward the LONGER piece ending at each
    position, then the lexicographically larger piece — a total,
    deterministic order."""
    n = len(word)
    neg = float("-inf")
    best = [neg] * (n + 1)
    back: "list[str | None]" = [None] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            if best[j] == neg:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                continue
            v = best[j] + lp
            cur = back[i]
            if (
                v > best[i]
                or (
                    v == best[i]
                    and cur is not None
                    and (len(piece), piece) > (len(cur), cur)
                )
            ):
                best[i] = v
                back[i] = piece
    if best[n] == neg:
        return None
    out: "list[str]" = []
    i = n
    while i > 0:
        p = back[i]
        assert p is not None
        out.append(p)
        i -= len(p)
    out.reverse()
    return out, best[n]


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1024,
    max_words: int = 1_000_000,
    max_piece_length: int = 16,
    seed_size: "int | None" = None,
    seed_table_budget: "int | None" = None,
    em_iters: int = 2,
    shrink: float = 0.75,
    pretokenizer: str = "default",
) -> dict:
    """Learn a unigram-LM tokenizer (Kudo 2018) from a corpus. See
    the module docstring for the algorithm; the DISTRIBUTED part is
    exactly one histogram pass, everything after runs driver-side
    over the bounded word table (the train_bpe split).

    ``vocab_size`` counts the 256 reserved byte-fallback tokens, so
    the number of learned pieces is ``vocab_size - 256``; it must
    leave room for every distinct character in the histogram
    (characters are never pruned — they are what guarantees a
    segmentation path). ``seed_size`` defaults to
    ``max(8 × pieces, 1024)`` seed candidates. Returns
    ``{"type": "unigram", "vocab": {token: id},
    "scores": {piece: logprob}}``; ids 0..255 are ``<0xXX>`` byte
    tokens, pieces get 256.. sorted by (-logprob, piece) — training
    is a pure function of the histogram.

    ``loss_history`` in the returned model records the corpus
    log-likelihood after each EM step (within an outer round EM is
    monotone non-decreasing; prune steps may drop it — that is the
    size/likelihood trade the paper makes).
    """
    n_pieces = int(vocab_size) - 256
    if n_pieces <= 0:
        raise ValueError(
            f"vocab_size must be > 256 (got {vocab_size}): ids "
            "0..255 are reserved byte-fallback tokens"
        )
    if not 0.0 < float(shrink) < 1.0:
        raise ValueError(f"shrink must be in (0, 1) (got {shrink})")
    max_len = int(max_piece_length)
    if max_len < 1:
        raise ValueError("max_piece_length must be >= 1")

    words = _word_histogram(
        df, text_col, max_words, pretokenizer, "train_unigram", "pieces"
    )
    if not words:
        raise ValueError("train_unigram: empty corpus")

    # ---- seed: every char + top substrings by freq*len -------------
    # The candidate table is BOUNDED while it builds: the histogram
    # arrives count-DESCENDING, and once the table holds
    # seed_table_budget entries no NEW substring is admitted
    # (existing entries keep accumulating counts) — so the frequent
    # words' substrings, exactly the candidates the freq*len ranking
    # below would keep anyway, are admitted first. Unbounded, a
    # 1M-word histogram at max_piece_length=16 materializes tens of
    # millions of dict entries (multi-GB) on the driver BEFORE the
    # seed_size cut. Driver-memory envelope: ~budget x ~100 bytes
    # (default 1M entries ~ 100 MB); results are identical to the
    # unbounded build whenever the budget doesn't bind (it never
    # binds below ~60k distinct words at typical word lengths).
    n_seed = (
        int(seed_size)
        if seed_size is not None
        else max(8 * n_pieces, 1024)
    )
    budget = (
        int(seed_table_budget)
        if seed_table_budget is not None
        else max(32 * n_seed, 1_000_000)
    )
    chars: "set[str]" = set()
    sub_freq: "dict[str, int]" = {}
    table_full = False
    for w, c in words:
        chars.update(w)
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(n, i + max_len) + 1):
                s = w[i:j]
                cur = sub_freq.get(s)
                if cur is not None:
                    sub_freq[s] = cur + c
                elif not table_full or j - i == 1:
                    # single chars bypass the budget: they are never
                    # pruned and must carry a seed frequency
                    sub_freq[s] = c
                    if len(sub_freq) >= budget:
                        table_full = True
    if table_full:
        import warnings

        warnings.warn(
            f"train_unigram: substring candidate table hit its "
            f"{budget}-entry budget (32 x seed_size, min 1M); "
            "substrings first seen in low-count histogram words "
            "were not admitted as seed candidates. Raise seed_size "
            "if the learned vocabulary looks impoverished.",
            stacklevel=2,
        )
    if len(chars) > n_pieces:
        raise ValueError(
            f"vocab_size={vocab_size} leaves room for {n_pieces} "
            f"pieces but the corpus has {len(chars)} distinct "
            "characters; raise vocab_size (characters are never "
            "pruned)"
        )
    multi = sorted(
        (s for s in sub_freq if len(s) > 1),
        key=lambda s: (-sub_freq[s] * len(s), s),
    )[: max(0, n_seed - len(chars))]
    pieces = set(chars) | set(multi)

    # initial probs proportional to substring frequency
    tot = sum(sub_freq[p] for p in pieces)
    logp = {
        p: math.log(sub_freq[p]) - math.log(tot) for p in pieces
    }

    loss_history: "list[float]" = []

    def _em_step() -> None:
        counts: "dict[str, float]" = {}
        ll = 0.0
        for w, c in words:
            ll += _forward_backward(w, c, logp, max_len, counts)
        loss_history.append(ll)
        # ML M-step; a piece with zero expected count keeps a floor
        # epsilon mass so chars stay encodable until pruned
        total = sum(counts.values())
        floor = math.log(1e-12)
        for p in list(logp):
            cp = counts.get(p, 0.0)
            logp[p] = (
                math.log(cp) - math.log(total) if cp > 0.0 else floor
            )

    while True:
        for _ in range(max(1, int(em_iters))):
            _em_step()
        if len(logp) <= n_pieces:
            break
        # ---- prune by the paper's removal loss ----------------
        counts: "dict[str, float]" = {}
        for w, c in words:
            _forward_backward(w, c, logp, max_len, counts)
        losses: "list[tuple[float, str]]" = []
        for p in list(logp):
            if len(p) == 1:
                continue  # chars are never pruned
            saved = logp.pop(p)
            alt = _viterbi(p, logp, max_len)
            logp[p] = saved
            alt_lp = alt[1] if alt is not None else float("-inf")
            loss = counts.get(p, 0.0) * (saved - alt_lp)
            losses.append((loss, p))
        keep_multi = max(
            n_pieces - len(chars), int(len(losses) * float(shrink))
        )
        if keep_multi >= len(losses):
            keep_multi = n_pieces - len(chars)
        losses.sort(key=lambda t: (-t[0], t[1]))
        kept = {p for _, p in losses[:keep_multi]} | chars
        for p in list(logp):
            if p not in kept:
                del logp[p]

    # ---- final renormalize + id assignment -------------------------
    # fsum: exactly rounded, so the total (and every score) does not
    # depend on the set order logp was built in
    tot_mass = math.fsum(math.exp(v) for v in logp.values())
    log_tot = math.log(tot_mass)
    scores = {p: v - log_tot for p, v in logp.items()}
    vocab: "dict[str, int]" = dict(_BYTE_TOKEN_ID)
    for i, p in enumerate(
        sorted(scores, key=lambda p: (-scores[p], p))
    ):
        vocab[p] = 256 + i
    out = {
        "type": "unigram",
        "vocab": vocab,
        "scores": scores,
        "max_piece_length": max_len,
        "loss_history": loss_history,
    }
    if pretokenizer != "default":
        out["pretokenizer"] = pretokenizer
    return out


# ---------------------------------------------------------------------------
# encoding / decoding
# ---------------------------------------------------------------------------


def _unigram_segmenter(model: dict):
    """(pre-token -> ids) for the unigram family: Viterbi over the
    piece log-probabilities; characters with no piece encode as their
    UTF-8 bytes (ids 0..255)."""
    vocab = model["vocab"]
    scores = model["scores"]
    max_len = int(model.get("max_piece_length", 16))

    def _segment(word: str) -> "list[int]":
        seg = _viterbi(word, scores, max_len)
        if seg is not None:
            return [vocab[p] for p in seg[0]]
        # some character has no piece: split the word at uncovered
        # characters, Viterbi the covered runs, byte-fallback the rest
        ids: "list[int]" = []
        run = []
        for ch in word:
            if ch in scores:
                run.append(ch)
            else:
                if run:
                    ids.extend(_segment("".join(run)))
                    run = []
                ids.extend(ch.encode("utf-8"))
        if run:
            ids.extend(_segment("".join(run)))
        return ids

    return _segment


def _id_to_bytes_unigram(model: dict) -> "dict[int, bytes]":
    """id → bytes decode table: the 256 fallback ids are raw byte
    values, pieces their UTF-8 — byte-fallback runs reassemble into
    characters on decode."""
    out = {i: bytes([i]) for i in range(256)}
    for p, i in model["vocab"].items():
        if i >= 256:
            out[i] = p.encode("utf-8")
    return out


#: the tokenizer core's encode / count / decode restricted to unigram
#: models: piece ids emit their literal string and byte-fallback runs
#: reassemble to UTF-8, so ``decode(encode(x)) == x`` exactly
#: (pre-tokenization is an exact partition and every character either
#: has a piece or round-trips through its own bytes)
unigram_encode = _for_family("unigram", _encode)
unigram_token_count = _for_family("unigram", _token_count)
unigram_decode = _for_family("unigram", _decode)
encode_text_unigram = _for_family("unigram", encode_text)
decode_ids_unigram = _for_family("unigram", decode_ids)


# ---------------------------------------------------------------------------
# model I/O
# ---------------------------------------------------------------------------


def save_unigram(model: dict, path: str) -> None:
    """Write the model as a piece/score TSV (SentencePiece's public
    vocab export shape): a ``#unigram`` header line carrying the
    behavioral knobs, then one ``json-escaped-piece<TAB>score`` line
    per piece in id order. Pieces are JSON-escaped because a piece
    may legitimately contain a space or tab (pre-tokens carry their
    leading space, the raw analogue of BPE's Ġ). Paths may be URIs
    — the same pyarrow.fs routing as save_bpe."""
    _require_family(model, "unigram")
    flavor = model.get("pretokenizer", "default")
    header = (
        f"#unigram v1 max_piece_length="
        f"{int(model.get('max_piece_length', 16))}"
    )
    if flavor != "default":
        header += f" pretokenizer={flavor}"
    by_id = sorted(
        ((i, p) for p, i in model["vocab"].items() if i >= 256)
    )
    with _open_model_file(path, "w", "utf-8") as f:
        f.write(header + "\n")
        for _, p in by_id:
            f.write(
                f"{json.dumps(p, ensure_ascii=False)}\t"
                f"{model['scores'][p]!r}\n"
            )


def load_unigram(path: str) -> dict:
    """Load a :func:`save_unigram` model. Scores round-trip exactly
    (``repr`` of a float parses back bit-identical), so a saved and
    reloaded model encodes identically — the gate-pinnable
    contract."""
    vocab: "dict[str, int]" = dict(_BYTE_TOKEN_ID)
    scores: "dict[str, float]" = {}
    max_len = 16
    flavor = "default"
    with _open_model_file(path, "r", "utf-8") as f:
        header = f.readline().rstrip("\n")
        if not header.startswith("#unigram"):
            raise ValueError(
                f"not a unigram model file (header {header!r})"
            )
        for part in header.split()[2:]:
            if part.startswith("max_piece_length="):
                max_len = int(part.split("=", 1)[1])
            elif part.startswith("pretokenizer="):
                flavor = part.split("=", 1)[1]
        nid = 256
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            piece_json, score = line.split("\t")
            piece = json.loads(piece_json)
            vocab[piece] = nid
            scores[piece] = float(score)
            nid += 1
    out = {
        "type": "unigram",
        "vocab": vocab,
        "scores": scores,
        "max_piece_length": max_len,
    }
    if flavor != "default":
        _pre_re(flavor)  # validate / fail fast
        out["pretokenizer"] = flavor
    return out


# ---------------------------------------------------------------------------
# subword regularization (Kudo 2018 §4): sampled segmentations
# ---------------------------------------------------------------------------


def _ffbs(
    word: str,
    scores: "dict[str, float]",
    max_len: int,
    alpha: float,
    rng,
) -> "list[str] | None":
    """Sample ONE segmentation of ``word`` with probability
    proportional to ``Π p(piece)^α`` — forward filtering (logsumexp
    lattice marginals) + backward sampling, the paper's l=∞ sampling
    without the n-best truncation. ``rng.random()`` supplies the
    uniforms. None when no path exists (some char has no piece)."""
    n = len(word)
    neg = float("-inf")
    f = [neg] * (n + 1)
    f[0] = 0.0
    for i in range(1, n + 1):
        acc = neg
        for j in range(max(0, i - max_len), i):
            lp = scores.get(word[j:i])
            if lp is None or f[j] == neg:
                continue
            v = f[j] + alpha * lp
            if acc == neg:
                acc = v
            elif v > acc:
                acc = v + math.log1p(math.exp(acc - v))
            else:
                acc = acc + math.log1p(math.exp(v - acc))
        f[i] = acc
    if f[n] == neg:
        return None
    out: "list[str]" = []
    i = n
    while i > 0:
        cands: "list[tuple[str, float]]" = []
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = scores.get(piece)
            if lp is None or f[j] == neg:
                continue
            cands.append((piece, f[j] + alpha * lp))
        m = max(w for _, w in cands)
        weights = [math.exp(w - m) for _, w in cands]
        r = rng.random() * sum(weights)
        acc = 0.0
        pick = cands[-1][0]
        for (piece, _w), wt in zip(cands, weights):
            acc += wt
            if r < acc:
                pick = piece
                break
        out.append(pick)
        i -= len(pick)
    out.reverse()
    return out


def _sampling_encoder(model: dict, alpha: float, seed: int):
    """(text -> list[int]) closure sampling a segmentation per
    pre-token occurrence. Determinism contract: the RNG for the k-th
    pre-token of a text is seeded by md5(seed, k, word), so the same
    text encodes identically on any worker, any run, any partitioning
    — while repeated occurrences of a word across positions draw
    DIFFERENT segmentations (the augmentation the paper wants).
    No word cache by design: position-keyed draws are never
    reusable."""
    import hashlib

    import random as _random

    _require_family(model, "unigram")
    a = float(alpha)
    if a <= 0.0:
        raise ValueError(
            f"alpha must be > 0 (got {alpha}): alpha scales the "
            "piece log-probs — 0 would sample segmentations "
            "uniformly at random, losing the model entirely"
        )
    vocab = model["vocab"]
    scores = model["scores"]
    max_len = int(model.get("max_piece_length", 16))
    flavor = model.get("pretokenizer", "default")
    _pre_re(flavor)  # fail fast on the driver

    def _rng(k: int, word: str):
        h = hashlib.md5(
            f"{int(seed)}:{k}:{word}".encode("utf-8")
        ).digest()
        return _random.Random(int.from_bytes(h[:8], "big"))

    def _segment(word: str, k: int) -> "list[int]":
        seg = _ffbs(word, scores, max_len, a, _rng(k, word))
        if seg is not None:
            return [vocab[p] for p in seg]
        ids: "list[int]" = []
        run: "list[str]" = []
        for ch in word:
            if ch in scores:
                run.append(ch)
            else:
                if run:
                    ids.extend(_segment("".join(run), k))
                    run = []
                ids.extend(b for b in ch.encode("utf-8"))
        if run:
            ids.extend(_segment("".join(run), k))
        return ids

    def encode(text: "str | None") -> "list[int] | None":
        if text is None:
            return None
        ids: "list[int]" = []
        for k, word in enumerate(_pre_re(flavor).findall(text)):
            ids.extend(_segment(word, k))
        return ids

    return encode


def unigram_sample_encode(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "token_ids",
    alpha: float = 0.2,
    seed: int = 41,
) -> DataFrame:
    """SUBWORD REGULARIZATION (Kudo 2018 §4): append token ids from a
    SAMPLED segmentation per pre-token — probability ∝
    ``Π p(piece)^α`` via forward-filtering backward-sampling over
    the full lattice (the paper's l=∞ variant; no n-best
    truncation). The stochastic tokenization that regularizes
    translation/LM training: the same word tokenizes differently
    across positions and epochs (vary ``seed`` per epoch), exposing
    the model to the segmentation ambiguity Viterbi hides.

    ``alpha`` is the paper's smoothing exponent: small values
    (0.1–0.5) sample diverse segmentations; large values sharpen
    toward the Viterbi answer. Deterministic: draws derive from
    md5(seed, pre-token position, word) — same (text, seed) in means
    same ids out on any cluster layout, so an epoch's tokenization
    is exactly reproducible. decode(sample_encode(x)) == x exactly
    (every sampled path concatenates to the word; byte fallback
    covers uncovered chars). NULL in → NULL out."""
    mk = _sampling_encoder(model, alpha, seed)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(col: pd.Series) -> pd.Series:
        return col.map(mk)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def encode_text_unigram_sampled(
    model: dict, text: str, alpha: float = 0.2, seed: int = 41
) -> "list[int]":
    """Driver-side single-string sampled encode (tests, spot
    checks) — the exact distributed semantics."""
    return _sampling_encoder(model, alpha, seed)(text)


def unigram_coverage_stats(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    group_by: "str | None" = None,
) -> DataFrame:
    """Vocabulary-coverage data card for a unigram tokenizer on a
    corpus — the companion to ``tokenizer_stats`` that fertility
    alone can't show: per group (or one corpus row), ``n_docs,
    n_tokens, n_fallback_tokens`` (ids < 256 — the byte-fallback
    escape hatch firing), ``fallback_rate``, and
    ``n_distinct_pieces_used`` (vocab utilization: how much of the
    piece inventory the corpus actually exercises — a vocabulary
    trained on the wrong domain shows a high fallback rate AND low
    utilization). The decision metric for "is this tokenizer's vocab
    right for this corpus": BPE has no equivalent (byte-level BPE
    covers everything by construction), which is why this report is
    unigram-family-specific.

    Plan: one persisted encode pass feeding two map-side-combined
    aggregations (the tokenizer core's coverage card). NULL texts are
    dropped; ``fallback_rate`` is NULL for a zero-token group."""
    _require_family(model, "unigram")
    return _coverage_stats(
        docs, model, text_col, group_by, lambda i: i < 256, "fallback"
    )


def prune_unigram_vocab(
    df: DataFrame,
    model: dict,
    target_vocab_size: int,
    text_col: str = "text",
    min_usage: int = 0,
) -> dict:
    """Shrink a trained unigram model to ``target_vocab_size`` by
    CORPUS USAGE — the domain-adaptation step when a general
    tokenizer moves to a narrower corpus (a 32k-piece vocab where
    the domain exercises 8k wastes embedding rows and softmax
    compute on dead ids): encode ``df`` with the model, count each
    learned piece's occurrences, keep the most-used pieces, re-id
    densely. SentencePiece prunes DURING training against its own
    corpus (Kudo 2018 §3.2's EM-prune loop, which train_unigram
    runs); this prunes an EXISTING model against a NEW corpus.

    Encodability stays total by construction: the 256 byte-fallback
    tokens are always kept (a word whose piece was pruned falls back
    through shorter pieces, then bytes — the encoder's standard
    path), so ``decode(encode(x)) == x`` holds after ANY pruning.
    Kept pieces keep their ORIGINAL logprobs (no renormalization:
    a uniform shift would bias Viterbi toward different path
    LENGTHS, and the paper's alternative — re-running EM — belongs
    to train_unigram; segmentation after pruning is therefore
    exactly "the old model with the pruned pieces unavailable").

    Ranking is deterministic: usage count descending, then the
    train-time (-score, piece) order; ``min_usage`` additionally
    drops pieces used fewer than that many times even when the
    budget has room (the dead-id cleanup). Plan shape: ONE
    distributed encode pass + explode + a count aggregation bounded
    by the vocab size (map-side combined); the final rank runs
    driver-side over at most |vocab| rows — the train_bpe split.
    """
    _require_family(model, "unigram")
    tgt = int(target_vocab_size)
    n_keep = tgt - 256
    if n_keep < 0:
        raise ValueError(
            f"target_vocab_size must be >= 256 (got "
            f"{target_vocab_size}): ids 0..255 are reserved "
            "byte-fallback tokens"
        )
    scores = model["scores"]
    if n_keep >= len(scores) and min_usage <= 0:
        return dict(model)  # nothing to prune

    id_counts = _id_usage(df, model, text_col)
    by_id = {i: p for p, i in model["vocab"].items() if i >= 256}
    ranked = sorted(
        ((p, id_counts.get(i, 0)) for i, p in by_id.items()),
        key=lambda t: (-t[1], -scores[t[0]], t[0]),
    )
    kept = [
        p for p, n in ranked[:n_keep] if n >= int(min_usage)
    ]
    new_scores = {p: scores[p] for p in kept}
    vocab: "dict[str, int]" = dict(_BYTE_TOKEN_ID)
    for i, p in enumerate(
        sorted(new_scores, key=lambda p: (-new_scores[p], p))
    ):
        vocab[p] = 256 + i
    out = dict(model)
    out["vocab"] = vocab
    out["scores"] = new_scores
    out["pruned_from"] = len(scores)
    out["prune_usage_total"] = int(
        sum(n for _, n in ranked)
    )
    return out
