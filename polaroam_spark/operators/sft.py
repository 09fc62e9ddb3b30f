"""SFT / chat-data preparation: chat-template rendering, per-message
token encoding with LOSS MASKS, and padded fixed-length training
windows — the instruction-tuning half of the tokenizer ladder
(``pack_token_stream`` is the pretraining half: concat-and-cut, no
masks; SFT needs loss restricted to assistant tokens and pads per
conversation instead of packing across them).

Beyond-reference component (the reference is a mobility engine);
the shapes follow the de-facto public conventions: the ChatML
message framing (``<|im_start|>role\\ncontent<|im_end|>``) and the
standard SFT loss rule (train only on assistant CONTENT tokens —
headers, user turns, and padding are masked out).

Design decisions a gate can pin:

- **Rendering is a pure Column expression** (``F.aggregate`` over
  the messages array — no UDF), so a 100 TB conversation corpus
  renders inside whole-stage codegen and the oracle replays the
  concatenation in SQL.
- **Encoding is per message SEGMENT** (header / content / footer
  encoded separately, ids concatenated): that is what makes the
  mask exact — each segment's token span is known by construction,
  never recovered from offsets after the fact. Segment boundaries
  fall on pre-token boundaries (headers end with ``\\n``), and
  per-segment encoding is the DEFINED semantics here (the public
  SFT convention), so with the byte-identity model ids ==
  rendered-text UTF-8 bytes exactly and the mask == the
  assistant-content byte span — the sft2 oracle twin.
- **Two window conventions, chosen per loader**:
  :func:`chunk_sft_sequences` pads per conversation (safe with any
  loader — attention cannot bleed between dialogues);
  :func:`pack_sft_sequences` packs conversations into ~pad-free
  windows carrying ``segment_ids`` / reset ``position_ids``, for
  loaders that implement segment-isolated attention.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polaroam_spark.operators.tokenize import (
    _BYTE_TO_UNI,
    _encoder,
    _family,
)

#: template -> (header fn, footer) over a role Column
_TEMPLATES = ("chatml", "plain")


def _template_parts(template: str):
    if template == "chatml":
        return (
            lambda role: F.concat(
                F.lit("<|im_start|>"), role, F.lit("\n")
            ),
            F.lit("<|im_end|>\n"),
        )
    if template == "plain":
        return (
            lambda role: F.concat(role, F.lit(": ")),
            F.lit("\n"),
        )
    raise ValueError(
        f"unknown template {template!r}: use one of {_TEMPLATES}"
    )


def _template_parts_py(template: str):
    if template == "chatml":
        return (lambda role: f"<|im_start|>{role}\n", "<|im_end|>\n")
    if template == "plain":
        return (lambda role: f"{role}: ", "\n")
    raise ValueError(
        f"unknown template {template!r}: use one of {_TEMPLATES}"
    )


def render_chat_template(
    df: DataFrame,
    messages_col: str = "messages",
    template: str = "chatml",
    out_col: str = "text",
) -> DataFrame:
    """Render an ``array<struct<role string, content string>>``
    conversation column into one training text per row — a pure
    ``F.aggregate`` string fold, no UDF. NULL messages arrays render
    NULL; a NULL role or content inside a message raises at
    execution time by design (``concat`` of NULL poisons that row to
    NULL — a silent half-rendered conversation would train on
    garbage, so callers should validate with
    ``validate_expectations`` upstream; the encode path rejects them
    loudly instead)."""
    header, footer = _template_parts(template)
    rendered = F.aggregate(
        F.col(messages_col),
        F.lit(""),
        lambda acc, m: F.concat(
            acc, header(m["role"]), m["content"], footer
        ),
    )
    return df.withColumn(out_col, rendered)


def _is_byte_identity(model: dict) -> bool:
    """True when ``model`` is the byte-identity BPE model: no merges,
    no special tokens, the default pre-tokenizer, and a vocab that
    maps each byte's unicode surrogate to the byte's own value — the
    model under which ``encode(text) == list(text.encode('utf-8'))``
    exactly (the default pre-tokenizer PARTITIONS the text, so
    concatenated per-word byte ids reproduce the text's bytes).
    This is the model every trained tokenizer shares as its base
    layer and the one the sft2 oracle gate and the bench's sft_prep
    row use."""
    if _family(model) != "bpe":
        return False
    if model.get("merges") or model.get("special"):
        return False
    if model.get("rank_by_concat"):
        return False
    if model.get("pretokenizer", "default") != "default":
        return False

    vocab = model.get("vocab")
    return vocab == {u: b for b, u in _BYTE_TO_UNI.items()}


def encode_chat_sft(
    df: DataFrame,
    model: dict,
    messages_col: str = "messages",
    template: str = "chatml",
    loss_roles: "tuple[str, ...]" = ("assistant",),
    ids_col: str = "token_ids",
    mask_col: str = "loss_mask",
) -> DataFrame:
    """Append ``token_ids`` (``array<int>``) and a same-length
    ``loss_mask`` (``array<int>``, 1 where the SFT loss applies):
    each message encodes as header / content / footer segments
    (ids concatenated in render order) and the mask is 1 exactly on
    the CONTENT tokens of ``loss_roles`` messages — headers,
    footers, and non-loss roles are 0. ``model`` is either tokenizer
    family (BPE or unigram, the ``tokenizer_stats`` dispatch).
    NULL messages array → NULL ids/mask; a NULL role or content
    inside a message raises loudly (a silently dropped turn would
    shift every downstream span). Per-segment encoding is the
    DEFINED semantics here (it is what makes the mask exact);
    concatenated segment ids equal encoding the rendered text only
    for byte-identity models (where ids are exactly the rendered
    text's UTF-8 bytes — the sft2 oracle) or when no segment begins
    with a pre-token that would have merged across the boundary:
    with a trained BPE/unigram model, content starting with
    whitespace (the ``' word'`` pre-token spans the header/content
    boundary) or the ``plain`` template's trailing-space header
    tokenize differently segment-by-segment than whole-text. That
    divergence is intentional — the loss mask, not whole-text id
    parity, is the contract."""
    enc = _encoder(model)
    header_py, footer_py = _template_parts_py(template)
    loss = tuple(str(r) for r in loss_roles)

    def _one(msgs) -> "tuple[list[int], list[int]] | None":
        if msgs is None:
            return None
        ids: "list[int]" = []
        mask: "list[int]" = []
        for m in msgs:
            role = m["role"] if not hasattr(m, "role") else m.role
            content = (
                m["content"] if not hasattr(m, "content") else m.content
            )
            if role is None or content is None:
                raise ValueError(
                    "encode_chat_sft: NULL role/content inside a "
                    "messages array — validate upstream; a silently "
                    "dropped turn would shift every downstream span"
                )
            h = enc(header_py(role))
            c = enc(content)
            f_ = enc(footer_py)
            ids.extend(h)
            mask.extend([0] * len(h))
            ids.extend(c)
            mask.extend([1 if role in loss else 0] * len(c))
            ids.extend(f_)
            mask.extend([0] * len(f_))
        return ids, mask

    out_type = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.IntegerType())),
            T.StructField("mask", T.ArrayType(T.IntegerType())),
        ]
    )

    if _is_byte_identity(model):
        # r20 fast path (guide §4.2): for a byte-identity BPE model
        # every segment's ids ARE its UTF-8 bytes (no merges, no
        # specials, and the pre-tokenizer partitions the text, so
        # concatenating per-word byte ids reproduces the segment's
        # bytes — pinned against the generic encoder by
        # tests/test_sft.py::test_byte_identity_fast_path_matches).
        # The per-row work drops from regex pre-tokenization + a
        # per-word merge walk + per-token Python list building to a
        # handful of b"".join/np.frombuffer calls per row, and the
        # mask becomes slice assignments on one zeroed vector —
        # per-SEGMENT Python, never per-token.
        import numpy as np

        @F.pandas_udf(out_type)
        def _enc(col: pd.Series) -> pd.DataFrame:
            hdr_cache: "dict[str, bytes]" = {}
            f_bytes = footer_py.encode("utf-8")
            f_len = len(f_bytes)
            ids_out: "list" = []
            mask_out: "list" = []
            for msgs in col:
                if msgs is None:
                    ids_out.append(None)
                    mask_out.append(None)
                    continue
                parts: "list[bytes]" = []
                spans: "list[tuple[int, int]]" = []
                pos = 0
                for m in msgs:
                    role = (
                        m["role"] if not hasattr(m, "role") else m.role
                    )
                    content = (
                        m["content"]
                        if not hasattr(m, "content")
                        else m.content
                    )
                    if role is None or content is None:
                        raise ValueError(
                            "encode_chat_sft: NULL role/content "
                            "inside a messages array — validate "
                            "upstream; a silently dropped turn would "
                            "shift every downstream span"
                        )
                    h = hdr_cache.get(role)
                    if h is None:
                        h = header_py(role).encode("utf-8")
                        hdr_cache[role] = h
                    c = content.encode("utf-8")
                    parts.append(h)
                    parts.append(c)
                    parts.append(f_bytes)
                    if role in loss and c:
                        spans.append(
                            (pos + len(h), pos + len(h) + len(c))
                        )
                    pos += len(h) + len(c) + f_len
                buf = b"".join(parts)
                ids = np.frombuffer(buf, dtype=np.uint8).astype(
                    np.int32
                )
                mask = np.zeros(len(buf), dtype=np.int32)
                for a, b in spans:
                    mask[a:b] = 1
                ids_out.append(ids)
                mask_out.append(mask)
            return pd.DataFrame({"ids": ids_out, "mask": mask_out})

    else:

        @F.pandas_udf(out_type)
        def _enc(col: pd.Series) -> pd.DataFrame:
            pairs = col.map(_one)
            return pd.DataFrame(
                {
                    "ids": pairs.map(
                        lambda p: None if p is None else p[0]
                    ),
                    "mask": pairs.map(
                        lambda p: None if p is None else p[1]
                    ),
                }
            )

    # asNondeterministic is an optimizer fence, not a semantics
    # change (the encode is a pure function of the messages):
    # downstream consumers filter on the encoded ids
    # (chunk_sft_sequences' isNotNull/size gates), and without the
    # fence the optimizer pushes that filter below this UDF and
    # DUPLICATES the evaluation — two stacked ArrowEvalPython nodes,
    # every conversation tokenized twice per action (observed on the
    # r19 sft_prep bench plan; guide §4.4).
    tmp = df.withColumn(
        "_im", _enc.asNondeterministic()(F.col(messages_col))
    )
    return tmp.select(
        *df.columns,
        F.col("_im.ids").alias(ids_col),
        F.col("_im.mask").alias(mask_col),
    )


def chunk_sft_sequences(
    df: DataFrame,
    seq_len: int,
    pad_id: int = 0,
    ids_col: str = "token_ids",
    mask_col: str = "loss_mask",
    id_col: str = "doc_id",
    drop_no_loss: bool = True,
) -> DataFrame:
    """Cut each conversation's (ids, mask) into fixed ``seq_len``
    training windows, PADDING the last window with ``pad_id`` /
    mask 0 — one row per (conversation, window) with ``seq_id,
    token_ids, loss_mask, n_tokens, n_loss_tokens, n_padding``. Pure
    JVM array arithmetic (sequence → slice → concat-pad →
    posexplode), no UDF and no shuffle — the loader-facing step
    after :func:`encode_chat_sft`, padding per conversation instead
    of packing across conversations (the SFT convention: attention
    must not bleed between unrelated dialogues without an attention-
    mask scheme the loader may not implement). ``drop_no_loss``
    removes windows whose mask is all zero (e.g. a final window that
    is pure padding plus user text) — they contribute nothing to the
    loss. NULL ids rows emit no windows."""
    if int(seq_len) < 1:
        raise ValueError(f"seq_len must be >= 1 (got {seq_len})")
    sl = int(seq_len)
    n = F.array_size(ids_col)
    n_win = F.ceil(n / F.lit(sl)).cast("int")

    def _pad(arr: Column, fill: int) -> Column:
        # right-pad to exactly sl: concat a full pad block then cut
        # (NOT sequence(1, sl - size): Spark's sequence(1, 0)
        # DESCENDS [1, 0] and would add two pad elements to an
        # already-full window — the _walk_offsets lesson)
        return F.slice(
            F.concat(arr, F.array_repeat(F.lit(fill), sl)), 1, sl
        )

    windows = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.struct(
            _pad(F.slice(ids_col, i * sl + 1, sl), int(pad_id)).alias(
                "ids"
            ),
            _pad(F.slice(mask_col, i * sl + 1, sl), 0).alias("mask"),
            F.least(n - i * sl, F.lit(sl)).alias("real"),
        ),
    )
    out = (
        df.filter(F.col(ids_col).isNotNull())
        .filter(n > 0)
        .select(
            F.col(id_col),
            F.posexplode(windows).alias("seq_id", "_w"),
        )
        .select(
            id_col,
            F.col("seq_id").cast("long").alias("seq_id"),
            F.col("_w.ids").alias(ids_col),
            F.col("_w.mask").alias(mask_col),
            F.lit(sl).cast("long").alias("n_tokens"),
            F.aggregate(
                F.col("_w.mask"),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("n_loss_tokens"),
            (F.lit(sl) - F.col("_w.real")).cast("long").alias(
                "n_padding"
            ),
        )
    )
    if drop_no_loss:
        out = out.filter(F.col("n_loss_tokens") > 0)
    return out


def pack_sft_sequences(
    df: DataFrame,
    seq_len: int,
    pad_id: int = 0,
    ids_col: str = "token_ids",
    mask_col: str = "loss_mask",
    id_col: str = "doc_id",
    num_shards: int = 256,
    max_shard_tokens: int = 100_000_000,
    drop_no_loss: bool = True,
) -> DataFrame:
    """PACKED SFT windows: concatenate many conversations into a
    token stream per shard and cut it into exactly-``seq_len``
    sequences carrying ``segment_ids`` and reset ``position_ids``
    alongside ids/mask — the ~pad-free loader shape where attention
    isolation between packed conversations is the LOADER's contract
    (via the segment ids), not padding's. The masked composition of
    :func:`~polaroam_spark.operators.tokenize.pack_token_stream`
    (shard machinery: deterministic ``xxhash64(id) % num_shards``
    groups, id-ordered within the shard, one ``applyInPandas`` group
    per shard with the ``max_shard_tokens`` loud-failure guard) with
    :func:`encode_chat_sft`'s loss masks.

    Per output row (``shard, seq_id``):

    - ``token_ids`` / ``loss_mask`` — the window's slice of the
      concatenated (ids, mask) stream; only the shard's LAST window
      can pad (``pad_id`` / mask 0), so total padding is bounded by
      ``num_shards * (seq_len - 1)`` regardless of corpus size —
      vs one padded tail per CONVERSATION for
      :func:`chunk_sft_sequences`.
    - ``segment_ids`` — per-token conversation index LOCAL to the
      window (0, 1, 2, … restarting each window; a conversation
      continuing across the cut is segment 0 of the next window);
      padding is ``-1``. Every conversation boundary inside a
      window is a segment increment, so no two conversations share
      a segment id.
    - ``position_ids`` — per-token position WITHIN its conversation,
      continuing across the window cut (positions stay consistent
      for a split conversation); padding is 0.
    - ``n_tokens`` (= seq_len), ``n_loss_tokens``, ``n_segments``
      (distinct real conversations touching the window),
      ``n_padding``.

    Exact accounting vs the padded twin (``chunk_sft_sequences``
    with ``drop_no_loss=False``): total loss tokens are EQUAL (no
    loss token is ever dropped — windows removed by
    ``drop_no_loss`` are all-mask-0 by definition) and total real
    (non-padding) tokens are equal. Deterministic: a pure function
    of (corpus, seq_len, num_shards) — shard rows order by
    ``(id, ids-bytes, mask-bytes)``, so duplicate ids cannot leak
    partition-arrival order into the stream. NULL ids rows
    contribute no tokens. The per-shard stream is built as packed
    numpy arrays (~13 bytes/token across the four streams), so the
    default ``max_shard_tokens=100_000_000`` cap costs ~1.3 GB of
    task memory — survivable in one executor task, and the guard
    raises LOUDLY before building anything bigger."""
    L = int(seq_len)
    if L < 1:
        raise ValueError(f"seq_len must be >= 1 (got {seq_len})")
    cap = int(max_shard_tokens)
    pid = int(pad_id)

    enc = df.select(
        F.col(id_col).alias("_id"),
        F.col(ids_col).alias("_ids"),
        F.col(mask_col).alias("_mask"),
        F.pmod(F.xxhash64(id_col), F.lit(int(num_shards))).alias(
            "_shard"
        ),
    )

    def _cut(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard = int(key[0])
        shard_tokens = int(
            pdf["_ids"].map(lambda x: 0 if x is None else len(x)).sum()
        )
        if shard_tokens > cap:
            raise ValueError(
                f"pack_sft_sequences: shard {shard} holds "
                f"{shard_tokens} tokens > max_shard_tokens={cap}; "
                "raise num_shards (target corpus_tokens / num_shards "
                "well under the cap) or raise max_shard_tokens if "
                "the workers have the memory for it"
            )
        # Deterministic shard order even under duplicate _id: sort
        # by (_id, ids-bytes, mask-bytes) — the bytes keys cost one
        # compact buffer per row, not boxed tuples.
        pdf = pdf.assign(
            _bk=pdf["_ids"].map(
                lambda a: b""
                if a is None
                else np.asarray(a, dtype=np.int64).tobytes()
            ),
            _bm=pdf["_mask"].map(
                lambda a: b""
                if a is None
                else np.asarray(a, dtype=np.int64).tobytes()
            ),
        ).sort_values(["_id", "_bk", "_bm"], kind="mergesort")
        # Build the stream as packed numpy arrays (int32 ids/seg/pos,
        # int8 mask): ~13 bytes/token, so the documented 100M-token
        # max_shard_tokens cap is ~1.3 GB in the task — vs ~10 GB+
        # of boxed Python ints the list version held (r16 verdict).
        id_arrs: "list" = []
        mask_arrs: "list" = []
        lens: "list[int]" = []
        for ids, mask in zip(pdf["_ids"], pdf["_mask"]):
            if ids is None or len(ids) == 0:
                continue
            id_arrs.append(np.asarray(ids, dtype=np.int32))
            mask_arrs.append(np.asarray(mask, dtype=np.int8))
            lens.append(len(id_arrs[-1]))
        n = int(sum(lens))
        if n:
            s_ids = np.concatenate(id_arrs)
            s_mask = np.concatenate(mask_arrs)
            id_arrs = mask_arrs = []  # free the per-row views
            lens_a = np.asarray(lens, dtype=np.int64)
            s_seg = np.repeat(
                np.arange(len(lens_a), dtype=np.int32), lens_a
            )
            # int32 transients: n <= max_shard_tokens and the guard
            # above already raised if the shard exceeded the cap, so
            # offsets fit int32 whenever the cap does; fall back to
            # int64 only for caps beyond 2^31.
            odt = np.int32 if n <= 2**31 - 1 else np.int64
            starts = np.repeat(
                (np.cumsum(lens_a) - lens_a).astype(odt), lens_a
            )
            s_pos = np.arange(n, dtype=odt) - starts
            del starts
        out = []
        n_win = -(-n // L) if n else 0
        pad_ids = np.full(L, pid, dtype=np.int32)
        pad_zero = np.zeros(L, dtype=np.int32)
        pad_seg = np.full(L, -1, dtype=np.int32)
        for w in range(n_win):
            lo, hi = w * L, min((w + 1) * L, n)
            mask = s_mask[lo:hi].astype(np.int32)
            n_loss = int(mask.sum())
            if drop_no_loss and n_loss == 0:
                continue
            gseg = s_seg[lo:hi]
            local = gseg - gseg[0]
            n_segments = int(local[-1]) + 1
            npad = L - (hi - lo)
            ids = s_ids[lo:hi]
            pos = s_pos[lo:hi]
            if npad:
                ids = np.concatenate([ids, pad_ids[:npad]])
                mask = np.concatenate([mask, pad_zero[:npad]])
                local = np.concatenate([local, pad_seg[:npad]])
                pos = np.concatenate([pos, pad_zero[:npad]])
            out.append(
                (
                    shard,
                    w,
                    ids,
                    mask,
                    local,
                    pos,
                    L,
                    n_loss,
                    n_segments,
                    npad,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "shard",
                "seq_id",
                "token_ids",
                "loss_mask",
                "segment_ids",
                "position_ids",
                "n_tokens",
                "n_loss_tokens",
                "n_segments",
                "n_padding",
            ],
        )

    return enc.groupBy("_shard").applyInPandas(
        _cut,
        schema=(
            "shard int, seq_id long, token_ids array<int>, "
            "loss_mask array<int>, segment_ids array<int>, "
            "position_ids array<int>, n_tokens long, "
            "n_loss_tokens long, n_segments long, n_padding long"
        ),
    )


def encode_preference_pairs(
    df: DataFrame,
    model: dict,
    prompt_col: str = "prompt_messages",
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
    template: str = "chatml",
    loss_roles: "tuple[str, ...]" = ("assistant",),
) -> DataFrame:
    """DPO / preference-pair data prep: encode a shared prompt plus
    a chosen and a rejected completion into the pairwise trainer
    input shape — ``prompt_len`` (tokens of the shared prefix,
    IDENTICAL for both branches by construction: the prompt is
    encoded ONCE as its own segments, so branch content can never
    retro-change prefix ids under either tokenizer family) and
    per-branch ``chosen_ids/chosen_mask`` /
    ``rejected_ids/rejected_mask``.

    ``prompt_col`` is the conversation so far
    (``array<struct<role, content>>``, typically ending with the
    user turn). ``chosen_col`` / ``rejected_col`` are each either a
    STRING (a single assistant reply — the common preference-dataset
    shape) or another messages array (multi-turn branches),
    dispatched on the column's Spark type.

    Mask semantics follow the DPO objective: the shared prompt is
    mask 0 REGARDLESS of roles (the policy/reference logprob is
    computed on the completion given the prompt), and within a
    branch the mask is 1 exactly on the CONTENT tokens of
    ``loss_roles`` messages (headers/footers 0 — the
    :func:`encode_chat_sft` rule). NULL prompt or branch → NULL
    outputs for the row; NULL role/content inside an array raises
    loudly (same contract as :func:`encode_chat_sft`)."""
    enc = _encoder(model)
    header_py, footer_py = _template_parts_py(template)
    loss = tuple(str(r) for r in loss_roles)

    def _branch_is_text(col: str) -> bool:
        t = df.schema[col].dataType
        if isinstance(t, T.StringType):
            return True
        if isinstance(t, T.ArrayType) and isinstance(
            t.elementType, T.StructType
        ):
            return False
        raise TypeError(
            f"encode_preference_pairs: {col!r} must be string or "
            f"array<struct<role, content>>, got {t.simpleString()}"
        )

    chosen_is_text = _branch_is_text(chosen_col)
    rejected_is_text = _branch_is_text(rejected_col)

    def _msgs(msgs, where: str):
        ids: "list[int]" = []
        mask: "list[int]" = []
        for m in msgs:
            role = m["role"] if not hasattr(m, "role") else m.role
            content = (
                m["content"] if not hasattr(m, "content") else m.content
            )
            if role is None or content is None:
                raise ValueError(
                    "encode_preference_pairs: NULL role/content "
                    f"inside the {where} messages array — validate "
                    "upstream (chat_message_expectations)"
                )
            h = enc(header_py(role))
            c = enc(content)
            f_ = enc(footer_py)
            ids.extend(h + c + f_)
            mask.extend(
                [0] * len(h)
                + [1 if role in loss else 0] * len(c)
                + [0] * len(f_)
            )
        return ids, mask

    def _branch(val, is_text: bool):
        if is_text:
            return _msgs(
                [{"role": "assistant", "content": val}], "branch"
            )
        return _msgs(val, "branch")

    def _one(prompt, chosen, rejected):
        if prompt is None or chosen is None or rejected is None:
            return None
        p_ids, _ = _msgs(prompt, "prompt")
        p_mask = [0] * len(p_ids)
        c_ids, c_mask = _branch(chosen, chosen_is_text)
        r_ids, r_mask = _branch(rejected, rejected_is_text)
        return (
            len(p_ids),
            p_ids + c_ids,
            p_mask + c_mask,
            p_ids + r_ids,
            p_mask + r_mask,
        )

    out_type = T.StructType(
        [
            T.StructField("prompt_len", T.LongType()),
            T.StructField("chosen_ids", T.ArrayType(T.IntegerType())),
            T.StructField("chosen_mask", T.ArrayType(T.IntegerType())),
            T.StructField(
                "rejected_ids", T.ArrayType(T.IntegerType())
            ),
            T.StructField(
                "rejected_mask", T.ArrayType(T.IntegerType())
            ),
        ]
    )

    @F.pandas_udf(out_type)
    def _enc3(
        p: pd.Series, c: pd.Series, r: pd.Series
    ) -> pd.DataFrame:
        rows = [_one(pv, cv, rv) for pv, cv, rv in zip(p, c, r)]
        return pd.DataFrame(
            {
                "prompt_len": [
                    None if t is None else t[0] for t in rows
                ],
                "chosen_ids": [
                    None if t is None else t[1] for t in rows
                ],
                "chosen_mask": [
                    None if t is None else t[2] for t in rows
                ],
                "rejected_ids": [
                    None if t is None else t[3] for t in rows
                ],
                "rejected_mask": [
                    None if t is None else t[4] for t in rows
                ],
            }
        )

    tmp = df.withColumn(
        "_pp",
        _enc3(F.col(prompt_col), F.col(chosen_col), F.col(rejected_col)),
    )
    return tmp.select(
        *df.columns,
        F.col("_pp.prompt_len").alias("prompt_len"),
        F.col("_pp.chosen_ids").alias("chosen_ids"),
        F.col("_pp.chosen_mask").alias("chosen_mask"),
        F.col("_pp.rejected_ids").alias("rejected_ids"),
        F.col("_pp.rejected_mask").alias("rejected_mask"),
    )


def preference_pairs_from_candidates(
    df: DataFrame,
    prompt_col: str = "prompt_messages",
    candidate_col: str = "candidate",
    score_col: str = "score",
    id_col: str = "prompt_id",
    margin: float = 0.0,
) -> DataFrame:
    """Mine (chosen, rejected) preference pairs from SCORED
    candidate generations — the rejection-sampling / best-of-n data
    prep step between a reward model and DPO training (the Llama-2
    recipe: sample n responses per prompt, keep the reward argmax;
    pairwise preference datasets keep the argmin as the rejected
    branch): one row per prompt with the max-score candidate as
    ``chosen`` and the min-score candidate as ``rejected``, plus
    both scores and ``n_candidates``.

    Deterministic by construction: ties break on the candidate
    STRING (``max_by``/``min_by`` over a ``struct(score,
    candidate)``), so the pair is a pure function of the input set —
    cluster layout and partition order cannot change it. NULL and
    NaN scores are excluded BEFORE selection (the quality.py NaN
    lesson: a NaN would win every struct comparison and launder an
    unscored candidate into every pair). Groups with fewer than 2
    usable candidates are dropped, as is any group whose
    ``chosen_score − rejected_score`` falls below ``margin`` OR is
    exactly zero: a score-tied group carries no preference signal
    (its chosen/rejected direction would be decided purely by the
    lexicographic tiebreak), so ties are dropped even at the
    default ``margin=0.0``.

    The returned prompt is the CHOSEN row's prompt (selected with
    the same ``max_by`` struct key), so the output stays a pure
    function of the input set even when prompt values vary within
    an id group.

    One hash-partitioned aggregation on ``id_col`` — no window, no
    self-join; the output feeds :func:`encode_preference_pairs`
    (chosen/rejected as string branches) or
    :func:`sft_from_best_of_n` directly."""
    s = F.col(score_col).cast("double")
    usable = df.filter(
        s.isNotNull()
        & ~F.isnan(s)
        & F.col(candidate_col).isNotNull()
    )
    key = F.struct(
        s.alias("s"), F.col(candidate_col).alias("c")
    )
    out = (
        usable.groupBy(id_col)
        .agg(
            F.max_by(prompt_col, key).alias(prompt_col),
            F.max_by(candidate_col, key).alias("chosen"),
            F.min_by(candidate_col, key).alias("rejected"),
            F.max(s).alias("chosen_score"),
            F.min(s).alias("rejected_score"),
            F.count("*").alias("n_candidates"),
        )
        .filter(F.col("n_candidates") >= 2)
    )
    diff = F.col("chosen_score") - F.col("rejected_score")
    return out.filter(
        (diff >= F.lit(float(margin))) & (diff > F.lit(0.0))
    )


def grpo_advantages(
    df: DataFrame,
    id_col: str = "prompt_id",
    score_col: str = "score",
    min_rollouts: int = 2,
) -> DataFrame:
    """Grouped-rollout advantage prep for GRPO / reward-model data
    (Shao et al. 2024, DeepSeekMath §4.1: sample a GROUP of rollouts
    per prompt, score each, and train on group-normalized advantages
    ``(score − group mean) / group std`` — the critic-free baseline).
    Input is :func:`preference_pairs_from_candidates`' candidate
    schema (one row per scored rollout: ``id_col``, ``score_col``,
    whatever payload columns ride along); output keeps one row per
    USABLE rollout and appends ``n_rollouts``, ``group_score_mean``,
    ``group_score_std`` (sample std, n−1 — the torch/TRL
    convention) and ``advantage``.

    NULL-safety is the quality.py NaN lesson: NULL/NaN-scored
    rollouts are excluded from BOTH the statistics and the output (a
    failed reward query is not "an average rollout"). Groups with
    fewer than ``min_rollouts`` usable rollouts are dropped — a
    sample std needs ≥ 2 points, and a single-rollout "group"
    carries no relative signal; the drop is loud in the schema
    (``n_rollouts`` is on every surviving row, so
    ``df.count() − out.count()`` is the audit) and ``min_rollouts <
    2`` raises rather than silently emitting 0/0. A ZERO-std group
    (every rollout scored identically) keeps its rows with
    ``advantage`` NULL — the :func:`~polaroam_spark.operators.
    textstats.robust_scale_scores` IQR rule: there is no spread to
    normalize by, and a sentinel 0 would silently mark every
    rollout "exactly average" (many GRPO impls add an eps and get
    0; NULL keeps the no-signal groups countable and droppable).

    Plan shape: ONE hash exchange on ``id_col`` — group statistics
    evaluate as window aggregates over the rollout group, and unlike
    the per-stratum conditioners (winsorize: few huge strata) the
    partition frames here are rollout-group-sized (k = 4..64 by
    construction of the sampler), so the window frame is the RIGHT
    100 TB shape: no second shuffle to join stats back, no
    group-sized buffers beyond k rows.
    """
    if int(min_rollouts) < 2:
        raise ValueError(
            f"min_rollouts must be >= 2 (got {min_rollouts}) — a "
            "sample std needs two points; dropping the floor would "
            "emit 0/0 advantages"
        )
    reserved = {
        "n_rollouts",
        "group_score_mean",
        "group_score_std",
        "advantage",
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            "grpo_advantages reserves column names "
            f"{sorted(reserved)}; rename {sorted(clash)} first"
        )
    s = F.col(score_col).cast("double")
    usable = df.filter(s.isNotNull() & ~F.isnan(s))
    w = Window.partitionBy(id_col)
    n = F.count("*").over(w)
    mean = F.avg(s).over(w)
    std = F.stddev_samp(s).over(w)
    return (
        usable.withColumns(
            {
                "n_rollouts": n,
                "group_score_mean": mean,
                "group_score_std": std,
                "advantage": F.when(std > 0, (s - mean) / std),
            }
        )
        .filter(F.col("n_rollouts") >= int(min_rollouts))
    )


def sft_from_best_of_n(
    df: DataFrame,
    prompt_col: str = "prompt_messages",
    candidate_col: str = "candidate",
    score_col: str = "score",
    id_col: str = "prompt_id",
) -> DataFrame:
    """Best-of-n SFT mining (the other half of rejection sampling):
    per prompt, append the max-score candidate as the assistant turn
    and return ``id_col, messages`` conversations ready for
    :func:`encode_chat_sft`. Selection semantics are EXACTLY
    :func:`preference_pairs_from_candidates`' chosen branch (same
    struct tiebreak, same NULL/NaN exclusion, prompt taken from
    the winning row so varying prompts within a group stay
    deterministic); single-candidate groups are kept here —
    best-of-1 is still a training example, it just carries no
    preference signal."""
    s = F.col(score_col).cast("double")
    usable = df.filter(
        s.isNotNull()
        & ~F.isnan(s)
        & F.col(candidate_col).isNotNull()
    )
    key = F.struct(
        s.alias("s"), F.col(candidate_col).alias("c")
    )
    best = usable.groupBy(id_col).agg(
        F.max_by(prompt_col, key).alias(prompt_col),
        F.max_by(candidate_col, key).alias("_best"),
    )
    return best.select(
        id_col,
        F.concat(
            F.col(prompt_col),
            F.array(
                F.struct(
                    F.lit("assistant").alias("role"),
                    F.col("_best").alias("content"),
                )
            ),
        ).alias("messages"),
    )


def chat_message_expectations(
    messages_col: str = "messages",
    roles: "tuple[str, ...]" = ("system", "user", "assistant"),
    require_assistant: bool = True,
) -> "dict[str, Column]":
    """Named Column rules for validating a chat corpus BEFORE
    encoding — plug straight into
    :func:`~polaroam_spark.operators.validation.validate_expectations`
    / ``enforce_expectations`` (where a failed rule quarantines the
    batch instead of :func:`encode_chat_sft` raising mid-job):

    - ``messages_present``: the array is non-NULL and non-empty;
    - ``no_null_turns``: every message has non-NULL role AND content
      (the exact condition the encoder raises on);
    - ``known_roles``: every role is in ``roles``;
    - ``has_assistant_turn`` (when ``require_assistant``): at least
      one message the SFT loss can train on — a conversation with no
      assistant turn yields an all-zero mask and a silently useless
      row;
    - ``system_first_if_any``: any system message sits at position 0
      (the ChatML convention; a mid-dialogue system turn is almost
      always a data bug).

    All rules are pure array expressions (forall/exists/filter), so
    the whole validation is one map-side aggregation pass.
    """
    m = F.col(messages_col)
    rules: "dict[str, Column]" = {
        "messages_present": m.isNotNull() & (F.size(m) > 0),
        "no_null_turns": F.forall(
            m,
            lambda x: x["role"].isNotNull()
            & x["content"].isNotNull(),
        ),
        "known_roles": F.forall(
            m, lambda x: x["role"].isin(*[F.lit(r) for r in roles])
        ),
        "system_first_if_any": F.size(
            F.filter(
                F.slice(m, 2, F.greatest(F.size(m) - 1, F.lit(0))),
                lambda x: x["role"] == "system",
            )
        )
        == 0,
    }
    if require_assistant:
        rules["has_assistant_turn"] = F.exists(
            m, lambda x: x["role"] == "assistant"
        )
    return rules


def build_fewshot_prompts(
    items: DataFrame,
    k: int = 5,
    id_col: str = "item_id",
    input_col: str = "input",
    target_col: str = "target",
    exemplars: "DataFrame | None" = None,
    pairs: "DataFrame | None" = None,
    seed: int = 17,
    delimiter: str = "\n\n",
    max_exemplars: int = 100_000,
    prompt_col: str = "prompt_text",
    continuation_col: str = "continuation_text",
) -> DataFrame:
    """Few-shot eval prompt assembly — the lm-eval-harness
    ``loglikelihood`` shape (the other half of eval prep next to
    :func:`~polaroam_spark.operators.chunking.rolling_eval_windows`):
    per eval item, draw ``k`` exemplars DETERMINISTICALLY from the
    pool, render ``prompt = exemplar_1.input + exemplar_1.target +
    delimiter + ... + item.input`` and score
    ``continuation = item.target`` — the model's metric is
    ``log p(continuation | prompt)``, so the loss mask (see
    :func:`encode_eval_prompts`) is 1 on the continuation only.

    The draw: exemplars rank by
    ``portable_hash64(item_id || '|' || exemplar_id, seed)``
    (md5-based, SQL-replayable) with exemplar-id tiebreak — a pure
    function of (ids, seed), so the deck is identical on any
    cluster layout and any run, and every item sees its own
    independent exemplar order (no shared deck bias). Leakage-safe
    by construction: an exemplar is EXCLUDED when its near-dup
    COMPONENT representative (transitive closure of ``pairs``, the
    :func:`~polaroam_spark.operators.sampling.leakage_safe_split`
    machinery) equals the item's — an item never draws itself
    (same id ⇒ same representative) nor any near-duplicate of
    itself; with ``pairs=None`` only self-draws are excluded.
    Items with fewer than ``k`` eligible exemplars get all of them
    (``n_shots`` < k, the lm-eval convention), never an error.

    Scale shape: the exemplar pool is collected into ONE
    array-of-structs row and broadcast; each item computes its
    top-k as a pure JVM expression (filter → transform → array_sort
    → slice → aggregate fold) — no shuffle, no UDF, no item×pool
    cross-join materialization. That is the genuine shape of
    few-shot eval (the pool is a dev split, thousands of rows, not
    a corpus); ``max_exemplars`` enforces it LOUDLY instead of
    letting a corpus-sized pool OOM the broadcast.

    Returns ``items`` + ``exemplar_ids`` (draw order), ``n_shots``,
    ``prompt_col``, ``continuation_col``. NULL input/target rows
    render NULL prompts (concat NULL-poisoning, the
    render_chat_template rule) — validate upstream.
    """
    from polaroam_spark.functions.text import portable_hash64

    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    ex = exemplars if exemplars is not None else items
    ex = ex.select(
        F.col(id_col).alias("_fs_eid"),
        F.col(input_col).alias("_fs_q"),
        F.col(target_col).alias("_fs_a"),
    ).filter(F.col("_fs_eid").isNotNull())

    if pairs is not None:
        from polaroam_spark.operators.dedup import (
            duplicate_components,
        )

        comp = duplicate_components(pairs).select(
            F.col("doc_id").alias("_fs_cid"),
            F.col("representative").alias("_fs_crep"),
        )
        ex = (
            ex.join(
                comp, ex["_fs_eid"] == comp["_fs_cid"], "left"
            )
            .withColumn(
                "_fs_rep",
                F.coalesce(F.col("_fs_crep"), F.col("_fs_eid")).cast(
                    "string"
                ),
            )
            .drop("_fs_cid", "_fs_crep")
        )
        it = (
            items.join(
                comp, items[id_col] == comp["_fs_cid"], "left"
            )
            .withColumn(
                "_fs_irep",
                F.coalesce(F.col("_fs_crep"), F.col(id_col)).cast(
                    "string"
                ),
            )
            .drop("_fs_cid", "_fs_crep")
        )
    else:
        ex = ex.withColumn("_fs_rep", F.col("_fs_eid").cast("string"))
        it = items.withColumn(
            "_fs_irep", F.col(id_col).cast("string")
        )

    n_pool = ex.count()
    if n_pool > int(max_exemplars):
        raise ValueError(
            f"build_fewshot_prompts: exemplar pool has {n_pool} rows "
            f"> max_exemplars={max_exemplars}; few-shot pools are "
            "dev splits that broadcast — sample the pool down (or "
            "raise max_exemplars if the executors have the memory)"
        )
    pool = ex.agg(
        F.collect_list(
            F.struct(
                F.col("_fs_eid"),
                F.col("_fs_q"),
                F.col("_fs_a"),
                F.col("_fs_rep"),
            )
        ).alias("_fs_pool")
    )

    joined = it.crossJoin(F.broadcast(pool))
    iid_s = F.col(id_col).cast("string")
    ranked = F.array_sort(
        F.transform(
            F.filter(
                F.col("_fs_pool"),
                lambda e: e["_fs_rep"] != F.col("_fs_irep"),
            ),
            lambda e: F.struct(
                portable_hash64(
                    F.concat_ws(
                        "|", iid_s, e["_fs_eid"].cast("string")
                    ),
                    seed,
                ).alias("h"),
                e["_fs_eid"].alias("eid"),
                e["_fs_q"].alias("q"),
                e["_fs_a"].alias("a"),
            ),
        )
    )
    drawn = F.slice(ranked, 1, kk)
    prompt = F.concat(
        F.aggregate(
            drawn,
            F.lit(""),
            lambda acc, e: F.concat(
                acc, e["q"], e["a"], F.lit(delimiter)
            ),
        ),
        F.col(input_col),
    )
    return joined.select(
        *items.columns,
        F.transform(drawn, lambda e: e["eid"]).alias("exemplar_ids"),
        F.array_size(drawn).alias("n_shots"),
        prompt.alias(prompt_col),
        F.col(target_col).alias(continuation_col),
    )


def encode_eval_prompts(
    df: DataFrame,
    model: dict,
    prompt_col: str = "prompt_text",
    continuation_col: str = "continuation_text",
    ids_col: str = "token_ids",
    mask_col: str = "loss_mask",
) -> DataFrame:
    """Two-segment eval encoding — the :func:`encode_chat_sft` rule
    applied to the loglikelihood shape: ``token_ids = enc(prompt) ++
    enc(continuation)`` and ``loss_mask`` 1 exactly on the
    CONTINUATION tokens (the span a loglikelihood eval scores),
    0 on the prompt. ``model`` is any tokenizer family (the
    ``tokenizer_stats`` dispatch). Per-segment encoding is the
    DEFINED semantics (it is what makes the mask exact — the
    encode_chat_sft contract); under the byte-identity model total
    ids == prompt+continuation UTF-8 bytes and loss tokens ==
    continuation bytes, the sft5 oracle arithmetic. NULL prompt or
    continuation → NULL ids/mask (no evidence, not a zero-loss
    row)."""
    enc = _encoder(model)

    out_type = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.IntegerType())),
            T.StructField("mask", T.ArrayType(T.IntegerType())),
        ]
    )

    @F.pandas_udf(out_type)
    def _enc(p: pd.Series, c: pd.Series) -> pd.DataFrame:
        ids_out, mask_out = [], []
        for pv, cv in zip(p, c):
            if pv is None or cv is None:
                ids_out.append(None)
                mask_out.append(None)
                continue
            pi = enc(pv)
            ci = enc(cv)
            ids_out.append(pi + ci)
            mask_out.append([0] * len(pi) + [1] * len(ci))
        return pd.DataFrame({"ids": ids_out, "mask": mask_out})

    tmp = df.withColumn(
        "_im", _enc(F.col(prompt_col), F.col(continuation_col))
    )
    return tmp.select(
        *df.columns,
        F.col("_im.ids").alias(ids_col),
        F.col("_im.mask").alias(mask_col),
    )


def encode_eval_choices(
    df: DataFrame,
    model: dict,
    prompt_col: str = "prompt_text",
    choices_col: str = "choices",
    answer_col: "str | None" = None,
    ids_col: str = "token_ids",
    mask_col: str = "loss_mask",
) -> DataFrame:
    """Multiple-choice eval encoding — the OTHER lm-eval-harness
    shape next to :func:`encode_eval_prompts`'s single-continuation
    loglikelihood: one output row per (item, choice), each scoring
    ``log p(choice | prompt)``; the harness then takes ``acc`` =
    argmax of the per-choice loglikelihoods and ``acc_norm`` = argmax
    after dividing by the choice's BYTE length — so every row
    carries ``n_choice_bytes``, the length-normalization currency.

    Per item the prompt (typically
    :func:`build_fewshot_prompts` output) is encoded ONCE and every
    choice row reuses that single encode — the
    :func:`encode_preference_pairs` shared-prefix rule: the first
    ``prompt_len`` ids are IDENTICAL across an item's rows by
    construction, not by re-encode coincidence (a tokenizer may
    merge across a prompt/choice boundary; per-segment encoding is
    the defined semantics, same as :func:`encode_chat_sft`).
    ``loss_mask`` is 1 exactly on the choice ids.

    Output: ``df``'s columns + ``choice_index`` (0-based position in
    ``choices_col``), ``choice_text``, ``ids_col``, ``mask_col``,
    ``prompt_len`` (ids, not bytes), ``n_choice_bytes`` (UTF-8), and
    — when ``answer_col`` names an int column holding the gold index
    — ``is_gold``. One ``posexplode_outer`` per item: map-only, no
    shuffle, Arrow-batched. NULL prompt or NULL/empty choices array
    → one row with NULL ``choice_index``/ids/mask (no evidence, not
    a zero-loss row); a NULL ELEMENT inside ``choices`` keeps its
    row and index with NULL ids/mask.
    """
    reserved = {
        "choice_index",
        "choice_text",
        "prompt_len",
        "n_choice_bytes",
        "is_gold",
        ids_col,
        mask_col,
        "_ec",
    }
    clash = reserved & set(df.columns) - {prompt_col, choices_col}
    if clash:
        raise ValueError(
            "encode_eval_choices reserves column names "
            f"{sorted(reserved)}; rename {sorted(clash)} first"
        )
    enc = _encoder(model)

    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("ids", T.ArrayType(T.IntegerType())),
                T.StructField("mask", T.ArrayType(T.IntegerType())),
                T.StructField("plen", T.IntegerType()),
            ]
        )
    )

    @F.pandas_udf(out_type)
    def _enc(p: pd.Series, cs: pd.Series) -> pd.Series:
        rows = []
        for pv, cv in zip(p, cs):
            if pv is None or cv is None or len(cv) == 0:
                rows.append(None)
                continue
            pi = enc(pv)
            pm = [0] * len(pi)
            item = []
            for ch in cv:
                if ch is None:
                    item.append(
                        {"ids": None, "mask": None, "plen": None}
                    )
                else:
                    ci = enc(ch)
                    item.append(
                        {
                            "ids": pi + ci,
                            "mask": pm + [1] * len(ci),
                            "plen": len(pi),
                        }
                    )
            rows.append(item)
        return pd.Series(rows)

    tmp = df.withColumn(
        "_ec", _enc(F.col(prompt_col), F.col(choices_col))
    ).select(
        *df.columns,
        F.posexplode_outer("_ec").alias("choice_index", "_e"),
    )
    choice = F.element_at(
        F.col(choices_col), F.col("choice_index") + 1
    )
    cols = [
        *df.columns,
        F.col("choice_index"),
        choice.alias("choice_text"),
        F.col("_e.ids").alias(ids_col),
        F.col("_e.mask").alias(mask_col),
        F.col("_e.plen").alias("prompt_len"),
        F.octet_length(choice).alias("n_choice_bytes"),
    ]
    if answer_col is not None:
        ans = F.col(answer_col).cast("int")
        # the shuffle_eval_choices rule: a broken gold index must
        # not silently become an always-wrong item (is_gold false
        # on every row deflates accuracy with no error) — raise
        # executor-side when the answer points outside a REAL
        # choices array; NULL answer or NULL deck stays NULL
        cols.append(
            F.when(
                ans.isNull() | F.col(choices_col).isNull(),
                F.lit(None).cast("boolean"),
            )
            .when(
                (ans >= 0) & (ans < F.size(choices_col)),
                F.col("choice_index") == ans,
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "encode_eval_choices: answer index "
                            "out of range: "
                        ),
                        ans.cast("string"),
                        F.lit(" for "),
                        F.size(choices_col).cast("string"),
                        F.lit(" choices"),
                    )
                ).cast("boolean")
            )
            .alias("is_gold")
        )
    return tmp.select(*cols)


def shuffle_eval_choices(
    df: DataFrame,
    item_col: str = "item_id",
    choices_col: str = "choices",
    answer_col: str = "answer",
    seed: int = 17,
) -> DataFrame:
    """Deterministically permute each item's ``choices`` array and
    remap the gold ``answer`` index — the POSITION-BIAS control of
    multiple-choice eval (models measurably prefer option A; a deck
    whose gold answers cluster at index 0 — the natural layout when
    decks are built gold-first, as sft6's is — inflates accuracy).
    The permutation is a pure function of ``(item id, position,
    seed)`` via the portable md5 hash (the :func:`build_fewshot_
    prompts` draw rule): identical on any cluster layout and any
    run, independent across items (no shared permutation bias), and
    SQL-replayable. Runs BEFORE :func:`encode_eval_choices`;
    ``score_eval_choices`` then reads ``is_gold`` unchanged.

    NULL ``choices`` or NULL ``answer`` pass through NULL; an
    ``answer`` outside the array raises executor-side (an eval item
    whose gold index is broken must not silently become un-gradable).
    Map-only — the permutation is a per-row JVM array sort, no
    shuffle, no UDF.
    """
    from polaroam_spark.functions.text import portable_hash64

    it = F.col(item_col).cast("string")
    cs = F.col(choices_col)
    ans = F.col(answer_col).cast("int")
    n = F.size(cs)
    # sequence(0, -1) would yield [0, -1] (negative default step),
    # so the empty array is its own branch
    idxs = F.when(
        n >= 1, F.sequence(F.lit(0), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    perm = F.array_sort(
        F.transform(
            idxs,
            lambda i: F.struct(
                portable_hash64(
                    F.concat_ws("|", it, i.cast("string")), seed
                ).alias("h"),
                i.alias("i"),
            ),
        )
    )
    order = F.transform(perm, lambda e: e["i"])
    new_choices = F.transform(
        order, lambda i: F.element_at(cs, i + 1)
    )
    new_answer = F.when(
        ans.isNotNull() & (ans >= 0) & (ans < n),
        (F.array_position(order, ans) - 1).cast("int"),
    ).otherwise(
        F.when(
            ans.isNull() | cs.isNull(),
            F.lit(None).cast("int"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "shuffle_eval_choices: answer index out "
                        "of range: "
                    ),
                    ans.cast("string"),
                    F.lit(" for "),
                    n.cast("string"),
                    F.lit(" choices"),
                )
            ).cast("int")
        )
    )
    return df.withColumns(
        {
            choices_col: F.when(cs.isNotNull(), new_choices),
            answer_col: new_answer,
        }
    )


def score_eval_choices(
    df: DataFrame,
    item_col: str = "item_id",
    ll_col: str = "loglikelihood",
    choice_col: str = "choice_index",
    gold_col: str = "is_gold",
    bytes_col: str = "n_choice_bytes",
) -> DataFrame:
    """Turn per-(item, choice) LOGLIKELIHOODS (the trainer's output
    over :func:`encode_eval_choices`' deck) into per-item
    predictions — the lm-eval-harness multiple_choice currencies:
    ``pred_choice`` = argmax loglikelihood (``acc``) and
    ``pred_choice_norm`` = argmax loglikelihood / continuation BYTE
    length (``acc_norm`` — the length normalization that stops the
    shortest choice from winning on raw ll), with ``correct`` /
    ``correct_norm`` read off the winning row's ``gold_col``. Task
    accuracy is then one ``avg(correct)`` over the output.

    Deterministic by construction: ties break on the SMALLEST
    choice index (``max_by`` over ``struct(ll, −choice)``), so the
    prediction is a pure function of the input set. NULL
    loglikelihoods (a failed scoring query) are excluded from both
    argmaxes — ``n_scored`` next to ``n_choices`` is the audit — and
    an item with NO scored choices predicts NULL/NULL rather than
    being dropped (a benchmark row that silently disappears inflates
    accuracy). Zero- or NULL-byte choices are excluded from the
    NORM argmax only (ll/0 is not a score); ``correct_norm`` is NULL
    when every choice was excluded there.

    One map-side-combined aggregation on ``item_col`` (#items output
    rows, k-bounded groups) — no window, no join, the
    :func:`preference_pairs_from_candidates` shape.
    """
    ll = F.col(ll_col).cast("double")
    ll = F.when(~F.isnan(ll), ll)
    ci = F.col(choice_col).cast("int")
    nb = F.col(bytes_col).cast("double")
    key = F.when(
        ll.isNotNull(), F.struct(ll.alias("l"), (-ci).alias("c"))
    )
    lln = F.when(nb > 0, ll / nb)
    key_n = F.when(
        lln.isNotNull(),
        F.struct(lln.alias("l"), (-ci).alias("c")),
    )
    return df.groupBy(item_col).agg(
        F.max_by(ci, key).alias("pred_choice"),
        F.max_by(F.col(gold_col), key).alias("correct"),
        F.max_by(ci, key_n).alias("pred_choice_norm"),
        F.max_by(F.col(gold_col), key_n).alias("correct_norm"),
        F.count("*").cast("long").alias("n_choices"),
        F.count(ll).cast("long").alias("n_scored"),
    )


def encode_kto_examples(
    df: DataFrame,
    model: dict,
    prompt_col: str = "prompt_messages",
    chosen_col: str = "chosen",
    rejected_col: str = "rejected",
    template: str = "chatml",
    loss_roles: "tuple[str, ...]" = ("assistant",),
) -> DataFrame:
    """KTO (unary preference) data prep, Ethayarajh et al. 2024: the
    trainer consumes ``(prompt, completion, desirable)`` EXAMPLES
    rather than pairs — each preference pair contributes its chosen
    branch as a ``desirable=true`` row and its rejected branch as a
    ``desirable=false`` row. Output per input pair: two rows
    ``[*pair-frame passthrough columns, prompt_len, input_ids,
    loss_mask, desirable]``.

    Encoding delegates to :func:`encode_preference_pairs` (all three
    tokenizer families, the shared-prompt-encoded-once guarantee,
    encode_chat_sft's mask rule: prompt mask 0, loss on
    ``loss_roles`` content), so a KTO example is bit-identical to
    the corresponding DPO branch at the same model/template — the
    two objectives can share one prepared corpus. The unpivot is one
    ``explode`` of a two-struct array — map-only, no second scan of
    the pair frame, no shuffle. A NULL-encoded branch (NULL prompt
    or branch — the pair op's NULL contract) stays a NULL-ids row
    with its ``desirable`` flag intact so callers can count what
    they dropped.
    """
    enc = encode_preference_pairs(
        df,
        model,
        prompt_col=prompt_col,
        chosen_col=chosen_col,
        rejected_col=rejected_col,
        template=template,
        loss_roles=loss_roles,
    )
    passthrough = [
        c
        for c in enc.columns
        if c
        not in {
            "chosen_ids",
            "chosen_mask",
            "rejected_ids",
            "rejected_mask",
        }
    ]
    both = F.explode(
        F.array(
            F.struct(
                F.col("chosen_ids").alias("input_ids"),
                F.col("chosen_mask").alias("loss_mask"),
                F.lit(True).alias("desirable"),
            ),
            F.struct(
                F.col("rejected_ids").alias("input_ids"),
                F.col("rejected_mask").alias("loss_mask"),
                F.lit(False).alias("desirable"),
            ),
        )
    ).alias("_kto")
    return enc.select(*passthrough, both).select(
        *passthrough,
        F.col("_kto.input_ids").alias("input_ids"),
        F.col("_kto.loss_mask").alias("loss_mask"),
        F.col("_kto.desirable").alias("desirable"),
    )
