"""Document chunking and sequence-packing plans — the last mile
between a cleaned corpus and a training dataloader.

- ``chunk_documents``: split each document into fixed-size token
  chunks (whitespace tokens as the unit; swap the tokenizer by
  passing a different token-array column). Pure array expressions:
  slice + posexplode, no UDF, shuffle-free.
- ``packing_plan``: assign chunks to fixed-budget bins (context
  windows) with a deterministic cumulative-sum rule per stratum —
  the distributed stand-in for greedy bin packing: bin id =
  floor(running token total / budget). Within ±1 chunk of greedy
  first-fit for near-uniform chunks, fully relational, reproducible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polaroam_spark.functions.text import tokens


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    drop_empty: bool = True,
    overlap: int = 0,
) -> DataFrame:
    """One row per (document, chunk): ``doc_id, chunk_id, chunk_text,
    n_tokens``. The last chunk of a document may be short. With
    ``overlap`` > 0 (RAG-style sliding windows), consecutive chunks
    share that many tokens — chunk i starts at offset
    ``i * (chunk_tokens - overlap)``; a trailing window fully
    contained in the previous chunk is not emitted."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            "overlap must satisfy 0 <= overlap < chunk_tokens"
        )
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.array_size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
    )
    out = docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "_chunk_toks"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", "_chunk_toks").alias("chunk_text"),
        F.array_size("_chunk_toks").cast("long").alias("n_tokens"),
    )
    if drop_empty:
        out = out.filter(F.col("n_tokens") > 0)
    return out


def packing_plan(
    chunks: DataFrame,
    budget_tokens: int = 2048,
    id_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    n_tokens_col: str = "n_tokens",
    strata_col: str | None = None,
    shards_per_stratum: int = 1,
) -> DataFrame:
    """Append ``pack_id``: the context-window bin each chunk lands in.

    Deterministic rule: order chunks by id within the stratum (or
    shard), take the running token total, ``pack_id base = floor(
    (cumsum - n) / budget)`` — a chunk joins the bin its START offset
    falls in, so a bin's total can overflow the budget by up to one
    chunk (bounded by ``budget + max_chunk - 1`` when every chunk is
    ≤ budget — pair with ``chunk_documents(chunk_tokens ≤ budget)``
    and truncate or split the final over-budget chunk loader-side).

    Pack ids are GLOBALLY unique in every mode — safe to feed
    straight into :func:`materialize_packs`:

    - no ``strata_col``: the cumsum is sharded by a deterministic
      hash of the id columns (1024 shards; a single global ordered
      window would collapse the whole corpus into one task) and
      ``pack_id = shard·2^40 + local``.
    - with ``strata_col``: each stratum gets a dense index (assigned
      by sorted order of the DISTINCT strata values — a window over
      strata, not rows — broadcast-joined back, null-safe so a null
      stratum packs like any other value) and
      ``pack_id = stratum_index·2^40 + shard·2^30 + local``.

    The stratified cumsum is one ordered window PER STRATUM — a
    stratum holding most of the corpus is one straggler task, the
    same hot-key shape :func:`~polaroam_spark.operators.joins.
    asof_join`'s ``time_chunk`` guards against. Opt-in guard:
    ``shards_per_stratum > 1`` hash-splits each stratum's cumsum the
    same way the unstratified path does (packs then never mix shards
    within the stratum — boundaries differ from the single-window
    plan, which is why it is opt-in rather than the default the SQL
    oracle pins).
    """
    reserved = {"_shard", "_sidx", "_sval", "pack_id"}
    clash = reserved & set(chunks.columns)
    if clash:
        raise ValueError(
            f"packing_plan reserves column names {sorted(reserved)}; "
            f"rename {sorted(clash)} in the input frame first"
        )
    S = int(shards_per_stratum)
    if S < 1:
        raise ValueError("shards_per_stratum must be >= 1")
    if strata_col is None:
        shard = F.pmod(
            F.xxhash64(*[F.col(c) for c in id_cols]), F.lit(1024)
        )
        chunks = chunks.withColumn("_shard", shard)
        part_cols = ["_shard"]
    else:
        strata_idx = (
            chunks.select(strata_col)
            .distinct()
            .withColumn(
                "_sidx",
                F.row_number().over(Window.orderBy(F.col(strata_col)))
                - 1,
            )
            .withColumnRenamed(strata_col, "_sval")
        )  # tiny frame: one row per stratum — the global window is fine
        chunks = chunks.join(
            F.broadcast(strata_idx),
            F.col(strata_col).eqNullSafe(F.col("_sval")),
        ).drop("_sval")
        part_cols = [strata_col]
        if S > 1:
            chunks = chunks.withColumn(
                "_shard",
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in id_cols]), F.lit(S)
                ),
            )
            part_cols.append("_shard")
    w = Window.partitionBy(*part_cols).orderBy(
        *[F.col(c) for c in id_cols]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum(n_tokens_col).over(w)
    local_pack = (
        (running - F.col(n_tokens_col)) / F.lit(budget_tokens)
    ).cast("long")
    if strata_col is None:
        out = chunks.withColumn(
            "pack_id",
            (F.col("_shard") * F.lit(1 << 40) + local_pack).cast("long"),
        ).drop("_shard")
    else:
        shard_off = (
            F.col("_shard") * F.lit(1 << 30) if S > 1 else F.lit(0)
        )
        out = chunks.withColumn(
            "pack_id",
            (
                F.col("_sidx") * F.lit(1 << 40) + shard_off + local_pack
            ).cast("long"),
        ).drop("_sidx", *(["_shard"] if S > 1 else []))
    return out


def packing_plan_bestfit(
    chunks: DataFrame,
    budget_tokens: int = 2048,
    id_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    n_tokens_col: str = "n_tokens",
    num_shards: int = 1024,
) -> DataFrame:
    """Append ``pack_id`` via BEST-FIT-DECREASING bin packing — the
    ZERO-TRUNCATION alternative to :func:`packing_plan`'s
    cumulative-sum rule. The cumsum plan lets a bin OVERFLOW by up
    to one chunk (the loader must truncate, losing tokens); this one
    guarantees every pack's total is ≤ ``budget_tokens`` (a single
    chunk larger than the budget gets a singleton pack — the one
    case no packer can fit), and BFD's tightest-fitting placement
    keeps padding low. Pick by what the loader does with overflow:
    truncation-tolerant loaders may prefer cumsum's fuller bins;
    loaders that must keep every token want this plan. (Neither
    plan's waste dominates the other on arbitrary inputs —
    property-tested; the k8 gate pins BFD's padding ≤ cumsum's
    clipped padding on the fixture corpus, a measurement, not a
    theorem.)

    Scale shape: bin packing is inherently sequential, so the corpus
    is hash-sharded on the id columns (``num_shards`` deterministic
    shards, the same contract as the cumsum path) and BFD runs
    per-shard inside an Arrow ``applyInPandas`` over a PROJECTED
    (ids, n_tokens) frame — the text never enters the shuffle; join
    the plan back by id for materialization. Per-shard packing is
    the standard parallel relaxation: quality is within the shard
    (waste can only improve over cumsum's same-shard plan), and
    shards pack independently so the stage scales with the cluster.
    Determinism: shard = hash of ids, placement order is
    (n_tokens desc, ids), the fullest-fitting-bin rule breaks ties
    toward the lowest bin index — a pure function of the input.

    Returns the input columns plus ``pack_id``
    (``shard * 2^40 + local bin``, globally unique).
    """

    budget = int(budget_tokens)
    if budget < 1:
        raise ValueError("budget_tokens must be >= 1")
    if "pack_id" in chunks.columns or "_shard" in chunks.columns:
        raise ValueError(
            "packing_plan_bestfit reserves columns "
            "['pack_id', '_shard']; rename them in the input first"
        )
    proj = chunks.select(
        *id_cols,
        F.col(n_tokens_col).cast("long").alias("_n"),
        F.pmod(
            F.xxhash64(*[F.col(c) for c in id_cols]),
            F.lit(int(num_shards)),
        ).alias("_shard"),
    )
    idc = list(id_cols)

    def _bfd(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard = int(key[0])
        if pdf["_n"].isna().any():
            raise ValueError(
                f"NULL {n_tokens_col}: a chunk without a token count "
                "cannot be packed — filter or fix upstream"
            )
        # the plan rides back on an id equi-join, so the id columns
        # must be non-NULL and unique or rows silently vanish (NULL
        # never equi-joins) / multiply (duplicate key tuples) —
        # checked HERE because identical tuples hash to the same
        # shard, making both checks exact without a global pass
        if pdf[idc].isna().any().any():
            raise ValueError(
                f"NULL in id columns {idc}: the pack plan joins back "
                "on them, and NULL ids would silently drop rows — "
                "filter or fix upstream"
            )
        if pdf.duplicated(subset=idc).any():
            raise ValueError(
                f"duplicate id tuples in {idc}: the pack plan joins "
                "back on them, and duplicates would multiply rows — "
                "deduplicate or add a tiebreaker column"
            )
        pdf = pdf.sort_values(
            by=["_n"] + idc, ascending=[False] + [True] * len(idc)
        )
        import bisect

        # bins sorted by remaining capacity ascending; best fit =
        # smallest remaining >= n (ties: lowest bin index, via the
        # (remaining, index) sort key)
        bins: "list[tuple[int, int]]" = []  # (remaining, bin_idx)
        packs = []
        n_bins = 0
        for n in pdf["_n"].to_numpy():
            n = int(n)
            pos = bisect.bisect_left(bins, (n, -1))
            if pos < len(bins):
                rem, idx = bins.pop(pos)
                bins.insert(
                    bisect.bisect_left(bins, (rem - n, idx)),
                    (rem - n, idx),
                )
                packs.append(idx)
            else:
                # no bin fits (or n > budget: singleton with
                # remaining < 0 never re-selected)
                idx = n_bins
                n_bins += 1
                rem = budget - n
                if rem > 0:
                    bins.insert(
                        bisect.bisect_left(bins, (rem, idx)),
                        (rem, idx),
                    )
                packs.append(idx)
        out = pdf[idc].copy()
        out["pack_id"] = [
            (shard << 40) + p for p in packs
        ]
        return out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in proj.schema.fields
        if f.name in idc
    ) + ", pack_id long"
    plan = proj.groupBy("_shard").applyInPandas(_bfd, schema=schema)
    return chunks.join(plan, on=idc, how="inner")


def corpus_vocabulary(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Corpus token frequency table: ``token, n`` for the ``top_k``
    most frequent tokens with at least ``min_count`` occurrences.
    explode → groupBy (map-side combined) → ``orderBy(...).limit(k)``,
    which Catalyst compiles to TakeOrderedAndProject: each partition
    keeps its local top-k and only k rows per partition reach the
    driver-side merge. (A global unpartitioned window here would pull
    the entire distinct-token table — billions of rows at corpus
    scale — through one task.)"""
    counts = (
        docs.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    return counts.orderBy(F.col("n").desc(), F.col("token")).limit(top_k)


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """Top-``top_k`` characteristic terms per document by TF-IDF
    (tf = in-doc count, idf = ln(N / df), df = number of docs
    containing the term) — the classic keyword/topic-probe over a
    corpus, useful for mixture auditing and cheap domain tagging.

    Plan shape: tf is a map-side-combined groupBy on (doc, token);
    df reuses the tf table with a second narrow groupBy on token; the
    corpus size N is a 1-row aggregate broadcast via cross join (no
    driver round-trip in the plan); the df table joins back
    term-partitioned; the final per-doc top-k is a window over the
    doc's own terms. No stage ever materializes more than
    (doc, token) granularity.

    Output: ``id_col, token, tfidf, term_rank`` with term_rank 1..k
    (ties broken by token for determinism).
    """
    tf = (
        docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("token")
        )
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("_tf"))
    )
    df_tab = tf.groupBy("token").agg(F.count("*").alias("_df"))
    n_docs = docs.agg(F.count("*").alias("_n"))
    scored = (
        tf.join(df_tab, on="token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("_tf")
            * F.log(
                F.col("_n").cast("double") / F.col("_df").cast("double")
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= F.lit(top_k))
        .select(id_col, "token", "tfidf", "term_rank")
    )


def materialize_packs(
    packed_chunks: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    text_col: str = "chunk_text",
    n_tokens_col: str = "n_tokens",
    pack_col: str = "pack_id",
    separator: str = "\n\n",
) -> DataFrame:
    """Build the actual training sequences from a
    :func:`packing_plan` output: concatenate each pack's chunks (in
    id order, joined by ``separator``) into one sequence row.

    One shuffle on ``pack_col`` — text moves exactly once, the same
    cost class as writing the output. Within a pack the chunks are
    ordered by ``id_cols`` via an array_sort over (id..., text)
    structs, so the result is deterministic under any partitioning
    (the groupBy itself guarantees no order).

    Output: ``pack_id, text, n_tokens, n_chunks, n_docs`` — n_tokens
    counts corpus tokens only (add separator/EOS token accounting
    loader-side, where the tokenizer is known).
    """
    sort_struct = F.struct(
        *[F.col(c) for c in id_cols], F.col(text_col).alias("_txt")
    )
    return (
        packed_chunks.groupBy(pack_col)
        .agg(
            F.concat_ws(
                separator,
                F.transform(
                    F.array_sort(F.collect_list(sort_struct)),
                    lambda s: s["_txt"],
                ),
            ).alias("text"),
            F.sum(n_tokens_col).cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_chunks"),
            # NOT countDistinct: a distinct aggregate beside
            # collect_list plans as a two-phase aggregate with an
            # extra (pack, doc) exchange whose partial buffers carry
            # the collected TEXT arrays — the pack contents would
            # shuffle twice. A pack is budget-bounded, so the distinct
            # fits in its aggregation buffer instead.
            F.size(F.array_distinct(F.collect_list(id_cols[0])))
            .cast("long")
            .alias("n_docs"),
        )
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``top_k`` documents for a keyword ``query`` by BM25
    (Robertson idf: ``ln(1 + (N - df + 0.5)/(df + 0.5))``, Lucene's
    form) — the lexical-retrieval complement to the embedding ANN
    path in operators/similarity.py; corpus curation uses it to pull
    topic slices without an embedding model.

    Plan shape: the exploded token stream is filtered to the query's
    terms BEFORE the tf groupBy, so the per-(doc, term) table is
    bounded by |query| × matching docs, not corpus token volume;
    document lengths come from array_size (no explode); N and
    avg_len ride a broadcast 1-row cross join. Final top-k is
    ORDER BY + LIMIT → TakeOrderedAndProject (no global sort).
    Term df is computed from the filtered stream — identical to the
    full-corpus df for those terms.

    Output: ``id_col, score, rank`` (rank 1..top_k, ties broken by
    ``id_col``).
    """
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("query must contain at least one term")
    term_arr = F.array(*[F.lit(t) for t in terms])

    lens = docs.select(
        F.col(id_col), F.array_size(tokens(text_col)).alias("_len")
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_len").alias("_avg_len"),
    )
    tf = (
        docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("_t")
        )
        .filter(F.array_contains(term_arr, F.col("_t")))
        .groupBy(id_col, "_t")
        .agg(F.count("*").alias("_tf"))
    )
    df_tab = tf.groupBy("_t").agg(F.count("*").alias("_df"))
    scored = (
        tf.join(df_tab, on="_t")
        .join(lens, on=id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (
                F.col("_tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("_len") / F.col("_avg_len")
                )
            ),
        )
    )
    ranked = (
        scored.groupBy(id_col)
        .agg(F.sum("_s").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(top_k))
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return ranked.withColumn("rank", F.row_number().over(w))


def chunk_documents_sentences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
) -> DataFrame:
    """Sentence-aware chunking: split on sentence boundaries and
    greedily merge consecutive sentences into chunks of at most
    ``max_tokens`` whitespace tokens — the chunker that does not cut
    mid-sentence (RAG passages, SFT examples), complementing
    :func:`chunk_documents`' fixed-window slicer. One row per
    (document, chunk): ``doc_id, chunk_id, chunk_text, n_tokens``.

    Semantics: a new chunk starts when adding the next sentence
    would exceed the budget AND the current chunk is non-empty — so
    a single sentence longer than ``max_tokens`` becomes its own
    over-budget chunk (post-split those with ``chunk_documents`` if
    hard caps matter). Sentences are maximal runs matched by
    ``[^.!?]+[.!?]*`` — deliberately lookaround-free so a SQL oracle
    (RE2 engines have no lookbehind) replays the identical split;
    abbreviation periods ("Dr. Smith") are sentence breaks under
    this relaxation, documented.

    Plan shape: ENTIRELY map-side — the greedy fold is an
    ``F.aggregate`` over each document's sentence array (runtime
    loop, same pattern as multimodal's header walks), chunk
    assembly a transform×filter over (sentences × chunks). No
    shuffle, no UDF; cost is O(sentences × chunks) per document,
    linear for bounded chunk counts.
    """
    if int(max_tokens) < 1:
        raise ValueError("max_tokens must be >= 1")
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(r"[^.!?]+[.!?]*"),
                0,
            ),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    n_tok = lambda s: F.size(  # noqa: E731
        F.filter(F.split(s, r"\s+"), lambda t: t != "")
    )
    # greedy fold: (chunk id per sentence) — new chunk when the
    # budget would overflow a non-empty chunk
    assign = F.aggregate(
        sents,
        F.struct(
            F.lit(0).alias("cur"),
            F.lit(0).alias("used"),
            F.array().cast("array<int>").alias("ids"),
        ),
        lambda acc, s: F.struct(
            (
                acc["cur"]
                + F.when(
                    (acc["used"] > 0)
                    & (acc["used"] + n_tok(s) > F.lit(int(max_tokens))),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("cur"),
            F.when(
                (acc["used"] > 0)
                & (acc["used"] + n_tok(s) > F.lit(int(max_tokens))),
                n_tok(s),
            )
            .otherwise(acc["used"] + n_tok(s))
            .alias("used"),
            F.concat(
                acc["ids"],
                F.array(
                    acc["cur"]
                    + F.when(
                        (acc["used"] > 0)
                        & (
                            acc["used"] + n_tok(s)
                            > F.lit(int(max_tokens))
                        ),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ),
            ).alias("ids"),
        ),
        lambda acc: acc["ids"],
    )
    zipped = F.zip_with(
        sents, assign, lambda s, i: F.struct(s.alias("s"), i.alias("i"))
    )
    chunks = F.when(
        F.size(sents) > 0,
        F.transform(
            F.sequence(F.lit(0), F.element_at(assign, -1)),
            lambda cid: F.concat_ws(
                " ",
                F.transform(
                    F.filter(zipped, lambda z: z["i"] == cid),
                    lambda z: z["s"],
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        n_tok(F.col("chunk_text")).cast("long").alias("n_tokens"),
    )


def packing_stats(
    planned: DataFrame,
    budget_tokens: int,
    n_tokens_col: str = "n_tokens",
    pack_id_col: str = "pack_id",
) -> DataFrame:
    """One-row efficiency report for a pack plan (the output of
    :func:`packing_plan` or :func:`packing_plan_bestfit`) — the
    numbers that decide between the cumsum and best-fit plans on a
    REAL corpus instead of by doctrine: ``n_chunks, n_packs,
    total_tokens, padded_tokens`` (budget − pack total, for packs
    within budget), ``overflow_tokens`` (pack total − budget — what
    a truncating loader would CUT; zero by construction for BFD
    plans), ``fill_rate`` (total tokens the loader keeps /
    n_packs·budget), ``full_packs`` and ``overflow_packs`` counts.

    Plan: one map-side-combined groupBy on the pack id (the skinny
    (pack, n) projection — text never enters) feeding a single-row
    aggregate; output is 1 row at any corpus size. NULL pack ids or
    token counts raise upstream semantics questions, so they are
    counted out loudly in ``n_unplanned`` rather than skewing the
    ratios."""
    budget = int(budget_tokens)
    if budget < 1:
        raise ValueError("budget_tokens must be >= 1")
    n = F.col(n_tokens_col).cast("long")
    ok = F.col(pack_id_col).isNotNull() & n.isNotNull()
    per_pack = (
        planned.filter(ok)
        .groupBy(pack_id_col)
        .agg(
            F.count("*").alias("_chunks"),
            F.sum(n).alias("_tok"),
        )
    )
    b = F.lit(budget)
    return per_pack.select(
        F.sum("_chunks").alias("n_chunks"),
        F.count("*").alias("n_packs"),
        F.sum("_tok").alias("total_tokens"),
        F.sum(
            F.when(F.col("_tok") <= b, b - F.col("_tok")).otherwise(
                F.lit(0)
            )
        ).alias("padded_tokens"),
        F.sum(
            F.when(F.col("_tok") > b, F.col("_tok") - b).otherwise(
                F.lit(0)
            )
        ).alias("overflow_tokens"),
        F.sum((F.col("_tok") == b).cast("long")).alias("full_packs"),
        F.sum((F.col("_tok") > b).cast("long")).alias(
            "overflow_packs"
        ),
    ).crossJoin(
        planned.select(
            F.sum((~ok).cast("long")).alias("n_unplanned")
        )
    ).select(
        "n_chunks",
        "n_packs",
        "total_tokens",
        "padded_tokens",
        "overflow_tokens",
        "full_packs",
        "overflow_packs",
        "n_unplanned",
        # tokens the loader KEEPS (post-truncation) over capacity
        (
            (F.col("total_tokens") - F.col("overflow_tokens"))
            / (F.col("n_packs") * b)
        ).alias("fill_rate"),
    )


def rolling_eval_windows(
    df: DataFrame,
    seq_len: int,
    stride: "int | None" = None,
    ids_col: str = "token_ids",
    id_col: str = "doc_id",
    pad_id: int = 0,
) -> DataFrame:
    """Sliding-window PERPLEXITY-EVALUATION prep — the published
    fixed-length-model evaluation convention (the HF perplexity
    guide / lm-eval-harness ``loglikelihood_rolling`` shape): each
    window carries the maximal left context and the loss mask covers
    exactly the tokens not yet scored, so every document token is
    scored EXACTLY ONCE with at least ``seq_len − stride`` tokens of
    context (except the unavoidable document head).

    Window k (0-based): ``end_k = min(seq_len + k·stride, n)``,
    ``begin_k = max(end_k − seq_len, 0)``, mask 1 on the LAST
    ``end_k − end_{k−1}`` positions (``end_{−1} = 0``); windows stop
    once ``end_k`` reaches ``n``, i.e. ``1 + ceil(max(0, n −
    seq_len)/stride)`` windows per document. ``stride`` defaults to
    ``seq_len // 2``; ``stride == seq_len`` degenerates to disjoint
    chunks (mask all-1 — fastest, least context), ``stride == 1`` is
    the exact full-context rolling evaluation papers report.

    Output: one row per (document, window) with ``seq_id,
    token_ids, loss_mask`` (right-padded to ``seq_len`` with
    ``pad_id`` / mask 0), ``n_tokens`` (real tokens), ``n_ctx``
    (context-only positions), ``n_loss``, ``n_padding``. Invariant
    (pinned by tests and the t49 oracle): per document,
    ``sum(n_loss) == n``.

    Pure JVM array arithmetic (sequence → transform → slice —
    the :func:`~polaroam_spark.operators.sft.chunk_sft_sequences`
    machinery pointed at evaluation), zero shuffle, composes with
    either tokenizer family's encode. NULL/empty ids emit no rows."""
    L = int(seq_len)
    if L < 1:
        raise ValueError(f"seq_len must be >= 1 (got {seq_len})")
    st = L // 2 if stride is None else int(stride)
    if not 1 <= st <= L:
        raise ValueError(
            f"stride must be in [1, seq_len] (got {stride}): > "
            "seq_len would skip tokens, < 1 never advances"
        )
    ids = F.col(ids_col)
    n = F.array_size(ids)
    n_win = (
        F.lit(1)
        + F.ceil(F.greatest(n - L, F.lit(0)) / F.lit(st))
    ).cast("int")

    def _pad(arr, fill):
        return F.slice(
            F.concat(arr, F.array_repeat(F.lit(fill), L)), 1, L
        )

    def _one(k):
        end = F.least(F.lit(L) + k * st, n)
        prev_end = F.when(k > 0, F.least(F.lit(L) + (k - 1) * st, n)
                          ).otherwise(F.lit(0))
        begin = F.greatest(end - L, F.lit(0))
        size = end - begin
        n_loss = end - prev_end
        mask = F.concat(
            F.array_repeat(F.lit(0), (size - n_loss).cast("int")),
            F.array_repeat(F.lit(1), n_loss.cast("int")),
        )
        return F.struct(
            _pad(F.slice(ids, begin + 1, size), int(pad_id)).alias(
                "ids"
            ),
            _pad(mask, 0).alias("mask"),
            size.cast("long").alias("real"),
            n_loss.cast("long").alias("n_loss"),
        )

    windows = F.transform(F.sequence(F.lit(0), n_win - 1), _one)
    return (
        df.filter(ids.isNotNull())
        .filter(n > 0)
        .select(
            F.col(id_col),
            F.posexplode(windows).alias("seq_id", "_w"),
        )
        .select(
            id_col,
            F.col("seq_id").cast("long").alias("seq_id"),
            F.col("_w.ids").alias(ids_col),
            F.col("_w.mask").alias("loss_mask"),
            F.col("_w.real").alias("n_tokens"),
            (F.col("_w.real") - F.col("_w.n_loss")).alias("n_ctx"),
            F.col("_w.n_loss").alias("n_loss"),
            (F.lit(L) - F.col("_w.real")).cast("long").alias(
                "n_padding"
            ),
        )
    )


def length_bucketed_batches(
    df: DataFrame,
    batch_tokens: int = 16384,
    id_cols: tuple[str, ...] = ("doc_id",),
    n_tokens_col: str = "n_tokens",
    min_bucket: int = 16,
    shards_per_bucket: int = 1,
) -> DataFrame:
    """Dynamic-batching plan: group sequences of SIMILAR length into
    batches so each batch pads only to its bucket cap, not to the
    corpus max — the padding-FLOP reduction every variable-length
    training loop runs (a uniform-length batch of 128-token rows
    padded to a 4096 global max burns 97% of the matmul on pad).

    Each row is assigned:

    - ``padded_len`` — the smallest power of two >= its token count
      (floored at ``min_bucket`` so tiny rows don't explode the
      bucket count); computed with integer bit arithmetic
      (``1 << length(bin(n-1))``), no float log at the boundaries;
    - ``batch_id`` — within its ``padded_len`` bucket, rows are
      ordered by ``id_cols`` (deterministic) and cut every
      ``max(1, batch_tokens div padded_len)`` rows, so every batch
      costs at most ``batch_tokens`` padded tokens (a row LONGER
      than ``batch_tokens`` gets a batch of its own). The id packs
      ``(bucket_exponent, shard, local_index)`` into disjoint bit
      ranges of one long.

    Plan shape: one window per ``(padded_len[, shard])`` partition —
    a handful of power-of-two buckets, so by default the dominant
    bucket's cumcount is ONE task (fine to ~10M rows; plenty for a
    per-source or per-day planning unit). For corpus-scale planning
    pass ``shards_per_bucket > 1``: rows hash-split by ``id_cols``
    into that many independent sub-buckets (the packing_plan shard
    pattern) — batch boundaries then differ from the single-shard
    plan (each shard pads its own ragged tail), which is why it is
    opt-in rather than the default the SQL oracle pins.

    Use :func:`packing_plan` when rows may be CONCATENATED into one
    window (pretraining); use this when each row must stay its own
    padded sequence (SFT, contrastive pairs, reward modeling).
    """
    reserved = {"padded_len", "batch_id", "_shard", "_exp", "_rn"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            "length_bucketed_batches reserves column names "
            f"{sorted(reserved)}; rename {sorted(clash)} first"
        )
    B = int(batch_tokens)
    if B < 1:
        raise ValueError(f"batch_tokens must be >= 1, got {B}")
    mb = int(min_bucket)
    if mb < 2 or (mb & (mb - 1)) != 0:
        raise ValueError(
            f"min_bucket must be a power of two >= 2, got {min_bucket}"
        )
    S = int(shards_per_bucket)
    if S < 1:
        raise ValueError("shards_per_bucket must be >= 1")
    if S > (1 << 20):
        # the shard field owns bits 30..49 of batch_id; a larger S
        # would silently collide shards into the exponent range
        raise ValueError(
            f"shards_per_bucket must be <= 2^20 (the 20-bit shard "
            f"field of batch_id), got {S}"
        )
    n = F.col(n_tokens_col)
    # ceil_log2(x) for x >= 2 as the bit length of x-1; clamp to the
    # min bucket first so the exponent is always >= log2(min_bucket).
    # A null or non-positive length has no bucket — fail LAZILY in
    # the expression (raise_error, evaluated executor-side) rather
    # than with an eager validation scan, which would cost a full
    # extra pass over the input at corpus scale
    clamped = F.greatest(n, F.lit(mb))
    exp = (
        F.when(
            n.isNotNull() & (n >= 1),
            F.length(F.bin(clamped - 1)),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"length_bucketed_batches: {n_tokens_col} "
                        "must be >= 1 and non-null, got "
                    ),
                    F.coalesce(n.cast("string"), F.lit("NULL")),
                )
            )
        )
        .cast("int")
    )
    out = df.withColumn("_exp", exp).withColumn(
        "padded_len",
        F.expr("shiftleft(CAST(1 AS BIGINT), _exp)"),
    )
    part = ["_exp"]
    if S > 1:
        out = out.withColumn(
            "_shard",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in id_cols]), F.lit(S)
            ),
        )
        part.append("_shard")
    w = Window.partitionBy(*part).orderBy(
        *[F.col(c) for c in id_cols]
    )
    rows_per_batch = F.greatest(
        F.lit(1).cast("long"),
        (F.lit(B) / F.col("padded_len")).cast("long"),
    )
    local = (
        (F.row_number().over(w) - 1).cast("long") / rows_per_batch
    ).cast("long")
    # the local index owns bits 0..29; overflow would collide into
    # the shard/exponent fields — executor-side raise (no extra
    # pass), same lazy-validation pattern as the n_tokens guard
    local = F.when(local < F.lit(1 << 30), local).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "length_bucketed_batches: more than 2^30 "
                    "batches in one bucket shard — raise "
                    "shards_per_bucket (local batch index "
                ),
                local.cast("string"),
                F.lit(" overflows the 30-bit field)"),
            )
        )
    )
    shard_off = (
        F.col("_shard") * F.lit(1 << 30) if S > 1 else F.lit(0)
    )
    out = out.withColumn(
        "batch_id",
        (
            F.col("_exp").cast("long") * F.lit(1 << 50)
            + shard_off
            + local
        ).cast("long"),
    )
    return out.drop("_exp", *(["_shard"] if S > 1 else []))


def batch_padding_stats(
    plan: DataFrame,
    n_tokens_col: str = "n_tokens",
) -> DataFrame:
    """Efficiency report for a :func:`length_bucketed_batches` plan:
    one row ``[n_batches, n_seqs, total_tokens, padded_capacity,
    padding_tokens, padding_frac]`` — the number the bucketing
    exists to drive down (compare against the single-bucket
    baseline: capacity = n_seqs x global max). Per-batch capacity is
    ``n_seqs_in_batch x padded_len`` (every sequence in a batch
    shares one ``padded_len`` by construction). Pure two-level
    aggregation, map-side combinable."""
    per_batch = plan.groupBy("batch_id", "padded_len").agg(
        F.count("*").alias("_c"),
        F.sum(n_tokens_col).alias("_tok"),
    )
    cap = F.col("_c") * F.col("padded_len")
    return per_batch.agg(
        F.count("*").alias("n_batches"),
        F.sum("_c").alias("n_seqs"),
        F.sum("_tok").alias("total_tokens"),
        F.sum(cap).alias("padded_capacity"),
        (F.sum(cap) - F.sum("_tok")).alias("padding_tokens"),
        F.round(
            (F.sum(cap) - F.sum("_tok"))
            / F.sum(cap).cast("double"),
            6,
        ).alias("padding_frac"),
    )


def materialize_batches(
    plan: DataFrame,
    ids_col: str = "token_ids",
    pad_id: int = 0,
    out_ids: str = "input_ids",
    out_mask: str = "attention_mask",
) -> DataFrame:
    """Build the actual padded tensors from a
    :func:`length_bucketed_batches` plan whose rows carry their
    pre-encoded ids: append ``out_ids`` (``ids_col`` right-padded
    with ``pad_id`` to the row's ``padded_len``) and ``out_mask``
    (1 on real tokens, 0 on padding) — the loader then groups rows
    by ``batch_id`` and stacks, every row in a batch already the
    same length by construction.

    Pure JVM ``concat``/``array_repeat`` arithmetic — map-only, no
    shuffle, no UDF (the materialize_packs cost class without even
    the pack shuffle: each row stays a row). A row whose ids are
    LONGER than its ``padded_len`` means the plan was built from a
    different length column than the ids — that's corrupt input,
    failed loudly executor-side (``raise_error``) rather than
    silently truncated; NULL ids rows keep NULL outputs.
    """
    ids = F.col(ids_col)
    plen = F.col("padded_len").cast("int")
    n = F.size(ids)
    pad_n = (plen - n).cast("int")
    padded = F.concat(
        ids, F.array_repeat(F.lit(pad_id).cast("int"), pad_n)
    )
    mask = F.concat(
        F.array_repeat(F.lit(1).cast("int"), n),
        F.array_repeat(F.lit(0).cast("int"), pad_n),
    )
    ok = n <= plen
    err = F.raise_error(
        F.concat(
            F.lit(
                "materialize_batches: ids longer than padded_len ("
            ),
            n.cast("string"),
            F.lit(" > "),
            plen.cast("string"),
            F.lit(") — the plan was built from a different length "
                  "column than the ids"),
        )
    )
    return plan.withColumn(
        out_ids,
        F.when(ids.isNull(), F.lit(None).cast("array<int>"))
        .when(ok, padded)
        .otherwise(err),
    ).withColumn(
        out_mask,
        F.when(ids.isNull(), F.lit(None).cast("array<int>"))
        .when(ok, mask)
        .otherwise(err),
    )
