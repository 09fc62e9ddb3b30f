"""Text analysis operators — language ID, quality scoring, token
counting, fingerprinting. All native Column expressions (regex,
split, array higher-order functions); designed as cheap single-pass
map-side transforms: no shuffle, no UDF, trivially scale-linear.

Beyond-reference components required by the build brief (the
reference is a mobility engine with no text surface).

The per-document aggregates share one core. The n-gram language-model
scorers (:func:`unigram_logprob`, :func:`bigram_logprob`,
:func:`bigram_logprob_vs_reference`,
:func:`kn_ngram_logprob_vs_reference`, :func:`dsir_importance_weights`)
read the tokenized doc frame of :func:`_doc_tokens`, explode order-k
windows with :func:`_windows` and keep only their count tables and
smoothing formula. They, :func:`repetition_ratio`,
:func:`duplicate_line_stats`, :func:`duplicated_span_stats` and
:func:`badword_stats` aggregate per document and join back through
:func:`_join_back`, whose id contract holds for all of them: the id
column must be unique and non-NULL, or the action raises (a repeated
id would merge two documents' scores, a NULL id would score NULL).
:func:`dedup_spans` drops NULL-id rows instead, as documented there.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polaroam_spark.functions.text import portable_hash64, tokens

#: tiny per-language stopword lists for the n-gram/stopword heuristic
#: language ID. Deliberately small + hardcoded: language ID at corpus
#: scale must not depend on an external model file.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "que", "pour"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(text: Column | str) -> Column:
    """Whitespace token count — the number of ``\\S+`` runs, counted
    in one codegen'd regexp pass (r20: the higher-order filter inside
    ``tokens()`` is CodegenFallback, interpreted per row; counts are
    identical because lowercasing never moves a whitespace boundary
    and interior ``\\s+`` splits never produce empty tokens)."""
    return F.regexp_count(_col(text), F.lit(r"\S+")).cast("long")


def _token_regexp(words: "list[str]") -> str:
    """Regex matching a whole whitespace token equal to one of
    ``words``: the lookarounds pin both match edges to token
    boundaries, so ``regexp_count`` over the text counts exactly the
    tokens a ``filter(tokens(text), contains)`` would keep — one
    codegen pass instead of an interpreted per-token set probe."""
    return (
        r"(?<!\S)(?:"
        + "|".join(_re.escape(w) for w in words)
        + r")(?!\S)"
    )


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish subword count: word-piece regex split — runs of
    letters, runs of digits, and single punctuation marks each count
    as one token (a cheap stand-in for a real tokenizer's token count,
    good for corpus budgeting)."""
    pieces = F.regexp_extract_all(
        F.lower(_col(text)), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), 1
    )
    return F.array_size(pieces).cast("long")


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` — one
    codegen'd regexp pass (see :func:`_token_regexp`; r20, replacing
    the interpreted higher-order filter + per-token array probe)."""
    return F.regexp_count(
        F.lower(_col(text)), F.lit(_token_regexp(STOPWORDS[lang]))
    )


def detect_language(text: Column | str) -> Column:
    """Heuristic language ID: the language whose stopword list matches
    the largest fraction of tokens; ``und`` (undetermined) when
    nothing matches. Pure expression — a greatest-of-structs trick
    picks the argmax without a UDF (hit counting via
    :func:`_token_regexp`, one codegen'd regexp pass per language)."""
    low = F.lower(_col(text))
    n = F.greatest(
        F.regexp_count(low, F.lit(r"\S+")), F.lit(1)
    ).cast("double")

    def _lang_score(lang: str) -> Column:
        hits = F.regexp_count(
            low, F.lit(_token_regexp(STOPWORDS[lang]))
        )
        return F.struct(
            (hits.cast("double") / n).alias("score"),
            F.lit(lang).alias("lang"),
        )

    scored = [_lang_score(lang) for lang in STOPWORDS]
    best = F.greatest(*scored) if len(scored) > 1 else scored[0]
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append per-document quality features:

    - ``n_tokens``: whitespace token count;
    - ``mean_token_len``: characters per token;
    - ``alpha_ratio``: fraction of characters that are letters;
    - ``digit_ratio``, ``punct_ratio``: same for digits/punctuation;
    - ``stopword_ratio``: English stopword fraction of tokens;
    - ``quality_score``: [0,1] heuristic — penalizes texts that are
      too short, digit-heavy, punctuation-heavy, or stopword-free
      (boilerplate/gibberish signals used by C4/Gopher-style filters).
    """
    text = F.col(text_col)
    n_chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    n_alpha = F.length(F.regexp_replace(F.lower(text), r"[^a-z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_punct = F.length(
        F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", "")
    )
    n_tok = token_count(text)
    sw_ratio = stopword_hits(text, "en").cast("double") / F.greatest(
        n_tok, F.lit(1)
    ).cast("double")

    df = df.withColumns(
        {
            "n_tokens": n_tok,
            "mean_token_len": n_chars
            / F.greatest(n_tok, F.lit(1)).cast("double"),
            "alpha_ratio": n_alpha.cast("double") / n_chars,
            "digit_ratio": n_digit.cast("double") / n_chars,
            "punct_ratio": n_punct.cast("double") / n_chars,
            "stopword_ratio": sw_ratio,
        }
    )
    length_ok = F.when(F.col("n_tokens") >= 10, 1.0).otherwise(
        F.col("n_tokens").cast("double") / 10.0
    )
    score = (
        length_ok
        * F.col("alpha_ratio")
        * (1.0 - F.least(F.col("digit_ratio") * 2, F.lit(1.0)))
        * (1.0 - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
        * (0.5 + F.least(F.col("stopword_ratio") * 2, F.lit(0.5)))
    )
    return df.withColumn("quality_score", score)


#: scrub patterns applied in order: (regex, replacement token)
SCRUB_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b(?:\d[ -]?){13,16}\b", "<CARD>"),
    (r"\b\d{3}[ -]?\d{2}[ -]?\d{4}\b", "<SSN>"),
]


def scrub_text(text: Column | str) -> Column:
    """Replace emails / URLs / card-like and SSN-like digit runs with
    typed placeholder tokens — the standard pre-training scrub pass.
    A chain of JVM regexp_replace calls; order matters (emails before
    URLs so `mailto:`-ish strings don't half-match)."""
    c = _col(text)
    for pat, repl in SCRUB_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-document counts of each scrubbable pattern (how much
    PII-shaped content a doc carries — a filtering signal on its own).
    Counted via regexp_count, no extraction materialized."""
    return df.withColumns(
        {
            "n_emails": F.regexp_count(
                F.col(text_col), F.lit(SCRUB_PATTERNS[0][0])
            ).cast("long"),
            "n_urls": F.regexp_count(
                F.col(text_col), F.lit(SCRUB_PATTERNS[1][0])
            ).cast("long"),
        }
    )


#: marks one row of each document in an id-keyed stream (:func:`_explode`)
_DOC = "_doc"


def _doc_tokens(df: DataFrame, text_col: str, id_col=None) -> DataFrame:
    """The narrow tokenized doc frame ``[id_col,] _toks``: tokens() in
    its OWN column (r20 CSE fix — a CodegenFallback higher-order filter
    re-runs per reference when a window zip inlines it 2k times)."""
    keep = [id_col] if id_col else []
    return df.select(*keep, tokens(text_col).alias("_toks"))


def _explode(frame: DataFrame, arr: Column, name: str, id_col=None):
    """One row per element of ``arr``. With ``id_col`` a document with
    an empty or NULL array keeps one NULL row, and ``_DOC`` is 1 on
    each document's first row, 0 on the rest."""
    if id_col is None:
        return frame.select(F.explode(arr).alias(name))
    return frame.select(
        id_col, F.posexplode_outer(arr).alias("_pos", name)
    ).select(
        id_col,
        name,
        (F.coalesce("_pos", F.lit(0)) == 0).cast("int").alias(_DOC),
    )


def _windows(frame: DataFrame, k: int, id_col=None, starts=None):
    """The order-``k`` window explode of ``_toks`` into ``_g1 .. _gk``:
    ``arrays_zip`` of ``k`` bulk slices, no positional self-join.
    ``starts`` windows per document, default ``size - (k-1)`` (the full
    k-grams); more starts add tail windows that ``arrays_zip`` pads
    with NULL, unambiguous since tokens() never yields NULL."""
    toks = F.col("_toks")
    full = starts is None
    if full:
        starts = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    names = [f"_g{j}" for j in range(1, k + 1)]
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, starts).alias(names[j]) for j in range(k)]
    )
    out = _explode(frame, zipped, "_w", id_col)
    if id_col is None and full:
        # a no-op (full windows hold no NULL) that matches the
        # isnotnull a join infers, so a count table feeding a join and
        # a total still reuses one exchange
        out = out.filter(F.col("_w._g1").isNotNull())
    return out.select(
        *([id_col, _DOC] if id_col else []),
        *[F.col(f"_w.{nm}").alias(nm) for nm in names],
    )


def _mean_log(p: Column, out_col: str) -> Column:
    """Per-doc mean ``log(p)`` over real windows (none → NULL)."""
    return F.avg(F.when(F.col("_g1").isNotNull(), F.log(p))).alias(out_col)


def _join_back(df: DataFrame, stream: DataFrame, id_col: str, *aggs):
    """Aggregate an id-keyed stream per document and append the results
    to ``df``'s columns. The id contract: ``id_col`` must be unique and
    non-NULL in ``df``, or the action raises (a repeated id would merge
    two documents' scores, a NULL id would score NULL). Both checks sit
    inside expressions the result needs, so no filter skips them: each
    value raises when its id's ``_DOC`` sum exceeds 1, and ``df``'s key
    is ``coalesce(id, raise_error)`` (a separate check filter fails once
    a filter on the result makes the join inner: Spark then evaluates
    the inferred ``isnotnull`` first)."""
    def fail(what):
        return F.raise_error(F.lit(
            f"{what} {id_col}: per-document results join back on "
            f"{id_col}, which must be unique and non-NULL"
        ))

    per_doc = stream.groupBy(id_col).agg(*aggs, F.sum(_DOC).alias(_DOC))
    new = [c for c in per_doc.columns if c not in (id_col, _DOC)]
    dup = F.col(_DOC) > 1
    per_doc = per_doc.select(id_col, *[
        F.when(dup, fail("duplicate")).otherwise(F.col(c)).alias(c)
        for c in new
    ])
    keyed = df.withColumn(id_col, F.coalesce(F.col(id_col), fail("NULL")))
    out = keyed.join(per_doc, on=id_col, how="left")
    return out.select(*df.columns, *new)


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Append ``top_ngram_ratio``: the fraction of a document's word
    n-grams taken by its single most frequent n-gram (Gopher-style
    repetition signal; boilerplate and spam score high).

    Linear in document length: explode the gram array, build the
    per-(doc, gram) histogram with a map-side-combined groupBy, take
    ``max(count)/sum(count)`` per doc, and join the scalar back on
    ``id_col`` (:func:`_join_back`: unique and non-NULL, or the action
    raises). Two narrow shuffles keyed by doc id — the earlier
    all-in-one-row variant (``transform(distinct, g -> size(filter(
    grams, = g)))``) was O(distinct·total) per document and melted on
    long web documents.
    """
    from polaroam_spark.functions.text import word_shingles

    grams = word_shingles(F.col("_toks"), n, assume_no_nulls=True)
    hist = (
        _explode(_doc_tokens(df, text_col, id_col), grams, "_gram", id_col)
        .groupBy(id_col, "_gram")
        .agg(F.count("*").alias("_c"), F.sum(_DOC).alias(_DOC))
    )
    nn = F.when(F.col("_gram").isNotNull(), F.col("_c"))
    return _join_back(
        df,
        hist,
        id_col,
        (
            F.max(nn).cast("double")
            / F.greatest(
                F.coalesce(F.sum(nn), F.lit(0)), F.lit(1)
            ).cast("double")
        ).alias("top_ngram_ratio"),
    )


def _nonblank_lines(text: Column) -> Column:
    """Trimmed, non-blank lines of a document — shared by the Gopher
    line-ratio rules and the duplicate-line stats so the two metrics
    can never diverge on what a 'line' is."""
    return F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append Gopher-rule quality signals (Rae et al. 2021, §A1.1) —
    the standard pre-training document filter — plus the combined
    ``passes_gopher`` verdict:

    - ``n_words``: whitespace word count;
    - ``mean_word_len``: mean characters per word (whitespace words,
      so punctuation sticks to its word — matching the paper's rule);
    - ``symbol_word_ratio``: (# of ``#`` chars + ``...`` runs) / words;
    - ``bullet_line_frac``: fraction of non-blank lines starting with
      a bullet (``-``, ``*``, ``•``);
    - ``ellipsis_line_frac``: fraction of non-blank lines ending with
      ``...`` or ``…``;
    - ``alpha_word_frac``: fraction of words containing a letter;
    - ``passes_gopher``: 50 ≤ words ≤ 100000, 3 ≤ mean len ≤ 10,
      symbol ratio ≤ 0.1, bullets ≤ 0.9, ellipses ≤ 0.3,
      alpha fraction ≥ 0.8, ≥ 2 English stopwords.

    All single-pass native expressions over the token/line arrays —
    no shuffle, no UDF; scale-linear map work like the rest of this
    module. Blank AND NULL documents score 0 words and fail the
    verdict rather than erroring or yielding NULL flags (a NULL
    verdict would vanish from both ``filter(passes)`` and
    ``filter(~passes)``, breaking kept+rejected accounting); ratios
    use max(n,1) denominators.
    """
    text = F.coalesce(_col(text_col), F.lit(""))
    # r20: word stats in codegen'd regexp passes instead of the
    # interpreted higher-order aggregate/filter over the token array
    # (CodegenFallback). Identical values: word_chars is the
    # non-whitespace char count of the lowercased text (== the sum
    # of lowercased token lengths — lowercasing never changes a
    # whitespace char), and a token contains a letter iff it yields
    # one (?<!\S)\S*?\p{L} match (matches can only start at token
    # boundaries and stop at the first letter).
    low = F.lower(text)
    n_words = token_count(text)
    wd = F.greatest(n_words, F.lit(1)).cast("double")
    word_chars = F.length(
        F.regexp_replace(low, r"\s", "")
    ).cast("long")
    n_hash = F.length(F.regexp_replace(text, r"[^#]", ""))
    n_ellipsis = F.regexp_count(text, F.lit(r"(\.\.\.|…)"))
    lines = _nonblank_lines(text)
    n_lines = F.greatest(F.array_size(lines), F.lit(1)).cast("double")
    bullet_lines = F.array_size(
        F.filter(
            lines,
            lambda l: l.startswith("-")
            | l.startswith("*")
            | l.startswith("•"),
        )
    )
    ellipsis_lines = F.array_size(
        F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
    )
    # \p{L}, not [a-z]: accented and non-Latin words are alphabetic
    # too — an ASCII class would flunk every French/Cyrillic doc on
    # the alpha_word_frac >= 0.8 rule
    alpha_words = F.regexp_count(low, F.lit(r"(?<!\S)\S*?\p{L}"))
    out = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": word_chars.cast("double") / wd,
            "symbol_word_ratio": (n_hash + n_ellipsis).cast("double") / wd,
            "bullet_line_frac": bullet_lines.cast("double") / n_lines,
            "ellipsis_line_frac": ellipsis_lines.cast("double") / n_lines,
            "alpha_word_frac": alpha_words.cast("double") / wd,
            "n_stopwords": stopword_hits(text, "en").cast("long"),
        }
    )
    verdict = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stopwords") >= 2)
    )
    return out.withColumn("passes_gopher", verdict)


def duplicate_line_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document duplicate-line repetition stats (the Gopher /
    MassiveText repetition rules): append

    - ``n_lines``: non-blank (after trim) line count;
    - ``dup_line_frac``: fraction of lines that are repeat occurrences
      of an earlier identical line (``(total - distinct) / total``);
    - ``dup_line_char_frac``: fraction of line characters that sit in
      lines occurring more than once.

    Boilerplate (nav bars, cookie banners, forum signatures) repeats
    lines verbatim; prose doesn't. Shape: explode the line array,
    one map-side-combined groupBy on (doc, line) for the histogram,
    one groupBy on doc for the fold, then a broadcast-friendly join
    back on ``id_col`` (:func:`_join_back`: unique and non-NULL, or
    the action raises). Linear in corpus size, two narrow shuffles
    keyed by doc id — the same plan family as
    :func:`repetition_ratio`. Documents with no non-blank lines get
    0 / 0.0 / 0.0 rather than NULL. Pre-existing output-named columns
    (``n_lines`` etc., e.g. from a prior enrichment pass) are dropped
    and recomputed — without that the join-back would raise
    AMBIGUOUS_REFERENCE.
    """
    out_cols = ("n_lines", "dup_line_frac", "dup_line_char_frac")
    df = df.drop(*[c for c in out_cols if c in df.columns])
    lines = _nonblank_lines(F.col(text_col))
    hist = (
        _explode(df, lines, "_line", id_col)
        .groupBy(id_col, "_line")
        .agg(F.count("*").alias("_c"), F.sum(_DOC).alias(_DOC))
    )
    nn = F.when(F.col("_line").isNotNull(), F.col("_c"))
    total = F.coalesce(F.sum(nn), F.lit(0))
    line_chars = F.length("_line") * F.col("_c")
    stats = _join_back(
        df,
        hist,
        id_col,
        total.cast("long").alias("n_lines"),
        (
            (total - F.count(nn)).cast("double")
            / F.greatest(total, F.lit(1)).cast("double")
        ).alias("dup_line_frac"),
        (
            F.coalesce(
                F.sum(F.when(F.col("_c") > 1, line_chars)), F.lit(0)
            ).cast("double")
            / F.greatest(
                F.coalesce(F.sum(line_chars), F.lit(0)), F.lit(1)
            ).cast("double")
        ).alias("dup_line_char_frac"),
    )
    return stats.select(
        *df.columns,
        F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
        F.coalesce(F.col("dup_line_frac"), F.lit(0.0)).alias(
            "dup_line_frac"
        ),
        F.coalesce(F.col("dup_line_char_frac"), F.lit(0.0)).alias(
            "dup_line_char_frac"
        ),
    )


def quality_stratified_filter(
    df: DataFrame,
    score_col: str = "quality_score",
    strata_col: str = "source",
    keep_fraction: float = 0.5,
) -> DataFrame:
    """Keep the top ``keep_fraction`` of documents per stratum by
    score (quality filtering that preserves the source mix instead of
    letting one high-scoring domain crowd out the corpus). One window
    per stratum: rank / count <= fraction.

    Scale caveat: ``row_number`` ranks each stratum in ONE ordered
    window task (spill-safe — sort, not a buffer — but
    single-threaded per stratum), and a web corpus's dominant source
    IS ~the corpus. For corpus-scale selection use the
    :func:`~polaroam_spark.operators.selection.exact_global_topk`
    band-refinement precedent (smp9b: a #rows-bounded approximate
    cut prunes everything clearly in/out, then only the boundary
    band sorts) or shard the stratum and accept per-shard fractions.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.col(score_col).desc_nulls_last()
    )
    total = Window.partitionBy(strata_col)
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .withColumn("_total", F.count("*").over(total))
        .filter(
            F.col("_rank")
            <= F.greatest(
                (F.col("_total") * F.lit(keep_fraction)).cast("long"),
                F.lit(1),
            )
        )
        .drop("_rank", "_total")
    )


def document_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Append two content fingerprints:

    - ``md5_fingerprint``: md5 of the normalized text (exact-dup id,
      portable to any engine);
    - ``rolling_fingerprint``: min of the portable hashes of the
      document's word 5-grams — a 1-hash MinHash over a rolling
      window, stable under small appends/prepends (winnowing-style).
    """
    from polaroam_spark.functions.text import word_shingles
    from polaroam_spark.operators.dedup import normalize_text

    norm = normalize_text(text_col)
    # token array projected to its own column first (r20 CSE fix —
    # word_shingles references it 6x and tokens() is CodegenFallback)
    df = df.withColumn("_fp_toks", tokens(text_col))
    grams = word_shingles(
        F.col("_fp_toks"), 5, assume_no_nulls=True
    )
    return df.withColumns(
        {
            "md5_fingerprint": F.md5(norm),
            "rolling_fingerprint": F.array_min(
                F.transform(grams, lambda g: portable_hash64(g, 11))
            ),
        }
    ).drop("_fp_toks")


def calibrate_scores(
    df: DataFrame,
    score_col: str = "quality_score",
    strata_col: str = "source",
    out_col: str = "calibrated_score",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-stratum percentile calibration: map raw scores to their
    percent rank WITHIN each stratum, so a threshold means the same
    thing for every source (quality classifiers are systematically
    biased per domain; a raw 0.8 on curated text and on web scrape
    are different animals — their calibrated 0.8 is "top 20% of its
    source" for both).

    One window per stratum — the same shuffle (and the same scale
    caveat) as :func:`quality_stratified_filter`: ``rank`` evaluates
    each stratum in ONE ordered window task, spill-safe but
    single-threaded, and the dominant stratum of a web corpus is
    ~the corpus — at that scale reach for the smp9b band-refinement
    precedent (approximate percentile cut first, sort only the
    boundary band) or a sharded variant. Rows within a stratum sort
    once. Ties share a rank by default (SQL PERCENT_RANK
    semantics): equal raw scores MUST calibrate equally, or a
    coarse-scored stratum would have byte-identical-quality docs
    spread across [0, 1] and selected arbitrarily by a threshold.
    Set ``tiebreak_col`` only where a total order is required and the
    arbitrary within-tie spread is understood (e.g. exact top-k
    budgeting).

    NULL scores calibrate to NULL (a classifier that failed to score a
    doc has no percentile; silently ranking it bottom would let a
    threshold pass or drop it arbitrarily) and are excluded from the
    ranking denominator, so non-null percentiles are unaffected by
    how many nulls a stratum carries.
    """
    order = [F.col(score_col).asc_nulls_last()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(strata_col).orderBy(*order)
    # percent_rank over non-null scores only: rank() with NULLS LAST
    # gives non-null rows ranks 1..m; m = non-null count per stratum
    # (F.count ignores nulls). (rank-1)/(m-1) reproduces SQL
    # PERCENT_RANK tie semantics; single-row stratum -> 0.0.
    m = F.count(score_col).over(Window.partitionBy(strata_col))
    pr = F.when(
        m > 1,
        (F.rank().over(w) - F.lit(1)).cast("double") / (m - F.lit(1)),
    ).otherwise(F.lit(0.0))
    return df.withColumn(
        out_col,
        F.when(F.col(score_col).isNull(), F.lit(None).cast("double"))
        .otherwise(pr),
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Append ``mean_logprob``: each document's mean token
    log-probability under the corpus's OWN unigram distribution — the
    cheapest member of the perplexity family of quality signals
    (gibberish and rare-token soup score low; no model file needed,
    the corpus is the model). Documents with no tokens get NULL.
    ``id_col`` must be unique and non-NULL, or the action raises
    (:func:`_join_back`).

    Shape: the exploded token stream (order-1 :func:`_windows`) feeds
    both the global unigram counts (map-side-combined groupBy on
    token) and the per-doc average (token-keyed join back, then a
    doc-keyed aggregation); the corpus token total rides a broadcast
    1-row crossJoin. Linear in corpus token volume, no UDF.
    """
    tsrc = _doc_tokens(df, text_col, id_col)
    counts = _windows(tsrc, 1).groupBy("_g1").agg(F.count("*").alias("_c"))
    total = counts.agg(F.sum("_c").alias("_total"))
    scored = _windows(tsrc, 1, id_col).join(counts, on="_g1", how="left")
    p = F.col("_c").cast("double") / F.col("_total").cast("double")
    return _join_back(
        df,
        scored.crossJoin(F.broadcast(total)),
        id_col,
        _mean_log(p, "mean_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambda_bigram: float = 0.75,
) -> DataFrame:
    """Append ``mean_bigram_logprob``: each document's mean bigram
    log-probability under the corpus's own interpolated bigram model
    — ``log(λ·c(w1,w2)/c(w1·) + (1-λ)·c(w2)/N)`` averaged over the
    document's bigram positions. One notch up the perplexity family
    from :func:`unigram_logprob`: catches shuffled-word salad that
    unigram statistics score as normal (every word common, no word
    ORDER). ``c(w1·)`` is the context count (bigram occurrences
    starting with w1), so the ML term is a proper conditional;
    interpolation with the unigram term keeps unseen pairs finite —
    no explicit smoothing constant to tune. Documents with fewer
    than 2 tokens get NULL. ``id_col`` must be unique and non-NULL,
    or the action raises (:func:`_join_back`).

    Default λ=0.75: an exact binary double, so the interpolation
    arithmetic is the same correctly-rounded expression on any
    engine (the t22 oracle mirrors it term for term). Shape: bigram
    pairs are built MAP-SIDE from each token array (order-2
    :func:`_windows` — no positional self-join); then three
    map-side-combined count tables (pair, context, unigram) join
    back onto the bigram stream and a doc-keyed average finishes
    (:func:`_bigram_joined`). Linear in corpus token volume, no UDF.
    """
    lam = float(lambda_bigram)
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lambda_bigram must be in [0, 1]")
    tsrc = _doc_tokens(df, text_col, id_col)
    p = F.lit(lam) * (
        F.col("_c12").cast("double") / F.col("_c1").cast("double")
    ) + F.lit(1.0 - lam) * (
        F.col("_cu").cast("double") / F.col("_n").cast("double")
    )
    return _join_back(
        df,
        _bigram_joined(tsrc, tsrc, id_col),
        id_col,
        _mean_log(p, "mean_bigram_logprob"),
    )


def _bigram_joined(
    scored: DataFrame, model: DataFrame, id_col: str
) -> DataFrame:
    """``scored``'s id-keyed bigram stream with ``model``'s pair,
    context and unigram counts (``_c12``, ``_c1``, ``_cu``; NULL when
    unseen) and token total ``_n`` left-joined on."""
    bg = _windows(model, 2)
    c12 = bg.groupBy("_g1", "_g2").agg(F.count("*").alias("_c12"))
    c1 = bg.groupBy("_g1").agg(F.count("*").alias("_c1"))
    uni = _windows(model, 1).groupBy(F.col("_g1").alias("_g2")).agg(
        F.count("*").alias("_cu")
    )
    total = uni.agg(F.coalesce(F.sum("_cu"), F.lit(0)).alias("_n"))
    return (
        _windows(scored, 2, id_col)
        .join(c12, on=["_g1", "_g2"], how="left")
        .join(c1, on="_g1", how="left")
        .join(uni, on="_g2", how="left")
        .crossJoin(F.broadcast(total))
    )


def bigram_logprob_vs_reference(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambda_bigram: float = 0.75,
) -> DataFrame:
    """Append ``mean_bigram_logprob`` scored under a model counted
    from a SEPARATE reference corpus — the CCNet-style quality
    signal: train the LM on clean text (Wikipedia-class), score the
    crawl, keep the low-perplexity tail. :func:`bigram_logprob`
    scores a corpus under its own statistics, which a large enough
    spam cluster can game (it becomes its own "normal"); a fixed
    reference cannot be moved by the scored data.

    Model: the same interpolated bigram as t22 —
    ``λ·c(w1,w2)/c(w1·) + (1−λ)·p_u(w2)`` — but counts come from
    ``reference`` and the scored corpus contributes NOTHING to them,
    so two out-of-vocabulary cases exist that self-scoring never
    hits, both handled with engine-exact arithmetic (0.5 and λ are
    exact binary doubles, mirrored term-for-term by the t24 oracle):

    - unseen context (``c(w1·)=0``): the bigram term is 0 — the
      model has no conditional, only the unigram prior speaks;
    - unseen word (``c(w2)=0``): the unigram term uses the floor
      ``(c_u + 0.5) / (N + 0.5)`` — finite, strictly positive, ≤ 1,
      and a fixed penalty rather than −inf (a single OOV token must
      dent a document's mean, not erase it).

    Shape: identical to t22 (:func:`_bigram_joined`) — map-side
    bigram construction, three map-side-combined count tables (over
    the REFERENCE), left joins back onto the scored bigram stream, one
    doc-keyed average. Documents with fewer than 2 tokens get NULL.
    ``id_col`` must be unique and non-NULL in ``df``, or the action
    raises (:func:`_join_back`); ``reference`` needs only
    ``text_col``.

    Broadcast caveat at reference scale (measured r11, BASELINE.md
    §t24 probe): the context-count (c1), unigram, and scalar-total
    tables stay broadcast-sized for any realistic vocabulary, but
    the BIGRAM count table is O(distinct reference bigrams) — a
    100k-doc / 5M-token reference already produces ~4.4M distinct
    bigrams and sort-merges past Spark's broadcast threshold; a
    10M-doc reference is strictly a shuffle join. That is the
    intended shape: the scored bigram stream hash-partitions ONCE on
    (w1, w2) against it, and throughput held at 34k docs/s (1.7M
    tokens/s) on local[16]. Do not force-broadcast the c12 table on
    big references.

    ``lambda_bigram`` must be < 1.0: with λ=1 an unseen-context
    bigram scores ``log(0)``, which Spark's ``F.log`` returns as
    NULL — the bigram would be silently EXCLUDED from the document
    mean instead of denting it, contradicting the OOV contract above
    (ADVICE r10 #4). The unigram floor needs nonzero weight to
    speak.
    """
    lam = float(lambda_bigram)
    if not 0.0 <= lam < 1.0:
        raise ValueError(
            f"lambda_bigram must be in [0, 1) (got {lambda_bigram}):"
            " at 1.0 an unseen-context bigram scores log(0) -> NULL"
            " and silently drops out of the document mean instead of"
            " denting it"
        )

    bigram_term = F.when(
        F.coalesce(F.col("_c1"), F.lit(0)) > 0,
        F.lit(lam)
        * (
            F.coalesce(F.col("_c12"), F.lit(0)).cast("double")
            / F.col("_c1").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    unigram_term = F.lit(1.0 - lam) * (
        (F.coalesce(F.col("_cu"), F.lit(0)).cast("double") + F.lit(0.5))
        / (F.col("_n").cast("double") + F.lit(0.5))
    )
    scored = _bigram_joined(
        _doc_tokens(df, text_col, id_col),
        _doc_tokens(reference, text_col),
        id_col,
    )
    return _join_back(
        df,
        scored,
        id_col,
        _mean_log(bigram_term + unigram_term, "mean_bigram_logprob"),
    )


def kn_ngram_logprob_vs_reference(
    df: DataFrame,
    reference: DataFrame,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    out_col: str = "mean_kn_logprob",
) -> DataFrame:
    """Append ``out_col``: each document's mean ``order``-gram
    log-probability under an interpolated KNESER-NEY model (Chen &
    Goodman 1999's recommended smoothing) counted from a SEPARATE
    reference corpus — CCNet's deployed perplexity filter is the
    ``order=5`` instance of exactly this (a 5-gram KN LM trained on
    clean text, applied to the crawl);
    :func:`kn_trigram_logprob_vs_reference` is the ``order=3`` case
    and :func:`bigram_logprob_vs_reference` the interpolated-ML rung
    below the family. KN replaces (a) the ML conditional with an
    ABSOLUTE-DISCOUNTED one (``max(c−D,0)``, mass D per seen type
    released to the backoff) and (b) raw lower-order counts with
    CONTINUATION counts (how many distinct contexts a gram follows,
    not how often it occurs) — the fix for "Francisco is frequent
    but only ever follows San".

    Model, top down (``D = discount``, default 0.75 — an exact
    binary double, so every term is the same correctly-rounded
    expression on any engine and the t41/t48 oracles mirror it
    term-for-term). Write ``u`` for the length-(N−1) context of the
    top level, ``v_k`` for the length-(k−1) context at level k:

    - top (raw counts): ``p_N(w|u) = max(c(uw)−D,0)/c(u·)
      + γ(u)·p_{N−1}(w|·)`` with ``γ(u) = D·N1+(u·)/c(u·)``
      (``N1+(u·)`` = distinct continuations seen after u — exactly
      the mass the discount released);
    - mid orders k = N−1 … 2 (continuation counts, the published
      rule): ``p_k(w|v_k) = max(cc_k(v_k w)−D,0)/cc_k(v_k ·)
      + γ_k(v_k)·p_{k−1}`` with ``γ_k(v_k) =
      D·N1+(v_k ·)/cc_k(v_k ·)``, where ``cc_k(g)`` = distinct
      words preceding the k-gram g — i.e. distinct (k+1)-gram TYPES
      ending in g (for k = N−1 those types are exactly the rows of
      the top count table; for lower k they come from a direct
      distinct-(k+1)-gram pass over the reference);
    - unigram: ``p_cont(w) = N1+(·w)/N1+(··)`` over distinct
      reference BIGRAM types.

    Out-of-vocabulary contracts (the t24 pattern — every unseen
    level degrades to the level below, never to −inf): an unseen
    context at ANY level drops that level's term and its γ (score is
    the level below outright); an unseen word bottoms out at the
    floor ``0.5/(N1+(··)+0.5)`` — finite, positive, a fixed dent.

    Shape: n-gram positions build MAP-SIDE per document
    (:func:`_windows` — no positional self-join); the
    reference is consumed in ONE pass that explodes each position's
    up-to-``order``-token window and counts window TYPES with a
    single wide exchange (r20 fan-in) — the ``order``-gram count
    table is the full-window slice of that table (the single
    corpus-scaled model table — strictly a shuffle join at real
    reference scale; the scored stream hash-partitions ONCE on its
    N keys against it) and each lower level's continuation table
    derives from distinct window PREFIXES (type-scale work). The
    persists are load-bearing: the window-type table feeds the
    scoring join, its context/continuation aggregates and every
    lower-level prefix dedup; each continuation table feeds two
    consumers; all registered with the session cache registry
    (``polaroam_spark.unpersist_caches()``). Linear in corpus token
    volume, no UDF. Documents with fewer than ``order`` tokens get
    NULL. ``id_col`` must be unique and non-NULL in ``df``, or the
    action raises (:func:`_join_back`).

    ``discount`` must be in (0, 1): at 0 the model collapses to
    unsmoothed ML with zero backoff mass (an unseen gram under a
    seen context would score log(0)); at 1 the top-level ML term
    can't distinguish counts. ``order`` must be >= 2 (at 2 the model
    is KN-smoothed bigrams: raw top counts over the unigram
    continuation floor)."""
    N = int(order)
    if N < 2:
        raise ValueError(
            f"order must be >= 2 (got {order}): order 1 has no "
            "context to discount — use a unigram logprob directly"
        )
    d_disc = float(discount)
    if not 0.0 < d_disc < 1.0:
        raise ValueError(
            f"discount must be in (0, 1) (got {discount}): 0 leaves"
            " no backoff mass (an unseen n-gram under a seen context"
            " scores log(0)), 1 erases the count signal"
        )

    from ..cache import track

    gnames = [f"_g{i}" for i in range(1, N + 1)]

    from ..session import fan_out

    # Model build in ONE pass over the reference (r20 fan-in, guide
    # §2.3/§2.4 — replaces the r19 shape of four separate gram
    # extractions: the order-N count stream plus one distinct-
    # (k+1)-gram stream per lower level, each a full explode of the
    # persisted token arrays feeding its OWN wide exchange). Every
    # position's up-to-N-token WINDOW is exploded once — arrays_zip
    # pads the short document-tail windows with null, and tokens()
    # never yields null elements, so the padding is unambiguous —
    # and window TYPES are counted with ONE wide exchange. Every
    # model table derives from that window-type table:
    # - the order-N counts are exactly the full (no-null) windows
    #   (an order-N gram at position i <=> the window at i has N
    #   real tokens);
    # - the distinct m-gram types of each lower level are the
    #   distinct length-m PREFIXES of windows with >= m real tokens
    #   (every m-gram occurrence is the m-prefix of exactly one
    #   window — the one starting at its position), so the lower-
    #   level dedups now run over TYPE-scale rows instead of
    #   re-exploding the corpus.
    # Shuffle bytes: the old shape moved ~(N + N-1 + ... + 2) tokens
    # per position across its four exchanges; this moves ~N once.
    # The tokenized reference no longer needs a persist at all — it
    # is consumed exactly once inside the window job. fan_out on the
    # text scan stays (guide §2.5 "one huge unsplittable file": at
    # bench scale the parquet is ONE split and the explode+partial-
    # agg stage would run serially; at corpus scale it is a no-op).
    # The windows start at every position but the last (a bigram
    # type needs two real tokens).
    rtok = _doc_tokens(fan_out(reference.select(text_col)), text_col)
    win = _windows(
        rtok, N, starts=F.greatest(F.size("_toks") - 1, F.lit(0))
    )
    wtypes = track(
        win.groupBy(*gnames).agg(F.count("*").alias("_cW")).persist()
    )
    # the one corpus-scaled model table: order-gram type counts
    ng = wtypes.filter(F.col(gnames[-1]).isNotNull()).select(
        *gnames, F.col("_cW").alias("_cN")
    )
    ctx = ng.groupBy(*gnames[:-1]).agg(
        F.sum("_cN").alias("_ctot"),
        F.count("*").alias("_ctyp"),
    )
    # continuation tables, level N-1 down to 1: cc_k(g) = distinct
    # (k+1)-gram types ending in the k-gram g
    conts: "dict[int, DataFrame]" = {}
    mids: "dict[int, DataFrame]" = {}
    for k in range(N - 1, 0, -1):
        keys = gnames[N - k :]
        if k == N - 1:
            ck = ng.groupBy(*keys).agg(
                F.count("*").alias(f"_cc{k}")
            )
        else:
            # NOTE (r19 optimization round): rewriting this as
            # groupBy(keys).countDistinct(first) was tried and
            # REVERTED — Spark plans a grouped distinct aggregation
            # as the same two exchanges (partial dedup on keys+first,
            # then the keys agg) this explicit shape produces, so the
            # plan was bit-identical and the code less direct.
            m = k + 1
            sub = gnames[N - k - 1 :]
            types = (
                wtypes.filter(F.col(gnames[m - 1]).isNotNull())
                .select(
                    *[
                        F.col(gnames[j]).alias(sub[j])
                        for j in range(m)
                    ]
                )
                .distinct()
            )
            ck = types.groupBy(*keys).agg(
                F.count("*").alias(f"_cc{k}")
            )
        ck = track(ck.persist())
        conts[k] = ck
        if k >= 2:
            mids[k] = ck.groupBy(*keys[:-1]).agg(
                F.sum(f"_cc{k}").alias(f"_ccx{k}"),
                F.count("*").alias(f"_nt{k}"),
            )
    total = conts[1].agg(
        F.coalesce(F.sum("_cc1"), F.lit(0)).alias("_nb")
    )

    # Materialize the persisted model tables eagerly, in TWO actions
    # (r19 optimization round, guide §2.4/§5). Left lazy, the scoring
    # join consumes every table through AQE broadcast subqueries that
    # launch concurrently when the action starts, and on a cold cache
    # those jobs race to fill the same InMemoryRelation — each
    # model-build stage runs ~twice (~2x model CPU, pairwise-
    # duplicate stages in the UI). The first action now materializes
    # the ENTIRE heavy build (scan + tokenize + window explode + the
    # single wide exchange); the union then builds the four
    # continuation tables concurrently inside ONE job, each branch a
    # type-scale aggregation over the now-warm wtypes cache, each
    # table built exactly once. (The r19 alternatives measured and
    # rejected for the four-extraction shape — per-table count()
    # barriers, a thread pool of counts, a lazy race — are recorded
    # in git history; the any-order python-replay differential in
    # tests/test_textstats.py pins the construction.)
    wtypes.count()
    builds = conts[N - 1].select(F.lit(1).alias("_one"))
    for k in range(N - 2, 0, -1):
        builds = builds.unionAll(
            conts[k].select(F.lit(1).alias("_one"))
        )
    builds.agg(F.count("_one")).collect()

    # scored side: the full order-N windows of the fanned-out docs
    stok = _doc_tokens(fan_out(df.select(id_col, text_col)), text_col, id_col)
    j = _windows(stok, N, id_col).join(ng, on=gnames, how="left").join(
        ctx, on=gnames[:-1], how="left"
    )
    for k in range(N - 1, 1, -1):
        keys = gnames[N - k :]
        j = j.join(conts[k], on=keys, how="left").join(
            mids[k], on=keys[:-1], how="left"
        )
    j = j.join(conts[1], on=gnames[-1:], how="left").crossJoin(
        F.broadcast(total)
    )

    # KN recursion bottom-up, every level the same exact-binary
    # expression shape the oracles mirror
    dd = F.lit(d_disc)
    nb = F.col("_nb").cast("double")
    p = F.when(
        F.coalesce(F.col("_cc1"), F.lit(0)) > 0,
        F.col("_cc1").cast("double") / nb,
    ).otherwise(F.lit(0.5) / (nb + F.lit(0.5)))
    for k in range(2, N):
        ccx = F.col(f"_ccx{k}").cast("double")
        p = F.when(
            F.coalesce(F.col(f"_ccx{k}"), F.lit(0)) > 0,
            F.greatest(
                F.coalesce(F.col(f"_cc{k}"), F.lit(0)).cast("double")
                - dd,
                F.lit(0.0),
            )
            / ccx
            + (dd * F.col(f"_nt{k}").cast("double")) / ccx * p,
        ).otherwise(p)
    ctot = F.col("_ctot").cast("double")
    p = F.when(
        F.coalesce(F.col("_ctot"), F.lit(0)) > 0,
        F.greatest(
            F.coalesce(F.col("_cN"), F.lit(0)).cast("double") - dd,
            F.lit(0.0),
        )
        / ctot
        + (dd * F.col("_ctyp").cast("double")) / ctot * p,
    ).otherwise(p)

    return _join_back(df, j, id_col, _mean_log(p, out_col))


def kn_trigram_logprob_vs_reference(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Append ``mean_kn_logprob``: the ``order=3`` case of
    :func:`kn_ngram_logprob_vs_reference` (see there for the model,
    OOV contracts, and scale shape). Kept as a named entry point —
    the t41 gate and the curation ladder's perplexity stage pin this
    signature; the generalization to CCNet's deployed 5-gram order
    is one argument away and produces bit-identical numbers here
    (the recursion is uniform, the order=3 tables and expression
    shapes are exactly the ones this function always built)."""
    return kn_ngram_logprob_vs_reference(
        df,
        reference,
        order=3,
        text_col=text_col,
        id_col=id_col,
        discount=discount,
    )


# DSIR's feature stream: unigrams plus word bigrams (the paper's set);
# a one-token document yields just its unigram, not word_shingles'
# whole-text fallback
def _dsir_grams_of(toks: Column) -> Column:
    """DSIR gram stream built from an ALREADY-TOKENIZED array column
    (r19 optimization round, guide §1.2 per-task work): the stream
    references its token array four times (unigram half, two bigram
    slices, the length guard), and when ``toks`` is the inline
    ``tokens(text)`` expression each reference re-runs the
    lower+split+filter chain per row — higher-order lambdas are
    CodegenFallback, so no common-subexpression elimination saves it
    (measured 35-40%% of the whole bucket-stream cost). Callers that
    own a DataFrame should project ``tokens(text)`` into a column in
    a SEPARATE lower select and pass the column reference here;
    CollapseProject leaves the two projections split exactly because
    the alias is non-cheap and multiply referenced."""
    n = F.array_size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


# fasttext-langid's CHAR 3-5-gram stream: robust on short and
# no-whitespace text, where word grams degenerate to one giant token
def _char_norm(text_col: "Column | str") -> Column:
    """The char-gram base string: lowercase, whitespace runs to one
    space, trimmed. Project this into its own column before
    :func:`_char_grams_of` — the gram stream references it ~2x per
    n-gram level (see :func:`_dsir_grams_of`)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _char_grams_of(
    t: Column, n_lo: int = 3, n_hi: int = 5
) -> Column:
    """Char n-gram stream from an ALREADY-NORMALIZED base column
    (:func:`_char_norm`) — the multiply-referenced-base twin of
    :func:`_dsir_grams_of`."""
    ln = F.length(t)

    def _stream(n: int):
        # NB: the transform lambda must take exactly ONE parameter —
        # PySpark treats a 2-arg lambda as (element, index), so a
        # `lambda i, n=n:` closure silently binds n to the INDEX
        # (observed: every gram became substr(t, i, 0) == '')
        return F.when(
            ln >= n,
            F.transform(
                F.sequence(F.lit(1), ln - (n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.when(
        t.isNotNull(),
        F.concat(*[
            _stream(n) for n in range(int(n_lo), int(n_hi) + 1)
        ]),
    )


def dsir_importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 10_000,
    smoothing: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Append ``dsir_logweight`` — the hashed n-gram importance
    weight of DSIR (Xie, Santurkar, Ma, Liang, "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    each corpus document by how much more likely its features are
    under a TARGET distribution (e.g. curated/wiki-quality text)
    than under the RAW corpus itself, then resample proportionally
    (:func:`polaroam_spark.operators.sampling.gumbel_topk_sample`
    is the paper's Gumbel top-k sampling step, made deterministic).

    Model: unigram+bigram features hashed into ``num_buckets``
    buckets (the paper's dimensionality reduction — THE property
    that makes this 100 TB-safe: both count tables are exactly B
    rows, broadcastable forever, unlike t24's open-vocabulary bigram
    table). Per bucket, add-λ estimates under both distributions;
    per document, the log importance weight is the sum over its
    feature instances of

        ln((c_tgt[b]+λ)/(T_tgt+λB)) − ln((c_raw[b]+λ)/(T_raw+λB))

    Plan shape: two corpus text scans (one to count raw buckets, one
    to score — the gram stream is wider than the text, so persisting
    it would cost more than re-tokenizing; both scans are map-side
    against the broadcast B-row log-ratio table) plus one target
    scan; the only shuffles are B-row map-side-combined counts and
    the per-doc sum keyed by ``id_col``. Documents with no tokens
    get NULL. ``id_col`` must be unique and non-NULL in ``corpus``,
    or the action raises (:func:`_join_back`). An EMPTY target
    degenerates to a pure raw-rarity score (every bucket falls to the
    λ/(λB) floor) — callers wanting a hard failure should validate
    the target upstream.

    ``portable=True`` swaps xxhash64 bucketing for the md5-based
    :func:`portable_hash64` so a DuckDB oracle can replay bucket
    membership bit-for-bit (t25 gate); the xxhash64 default is the
    scale path (~10x cheaper).
    """
    from polaroam_spark.functions.text import fast_hash64

    b = int(num_buckets)
    if b < 1:
        raise ValueError(f"num_buckets must be >= 1 (got {num_buckets})")
    lam = float(smoothing)
    if lam <= 0.0:
        raise ValueError(
            f"smoothing must be > 0 (got {smoothing}): add-0 estimates"
            " put ln(0) on every unseen bucket"
        )

    def _buckets(frame: DataFrame, id_col=None) -> DataFrame:
        # keyed by id, a document with no gram keeps a NULL-bucket row
        toks = _doc_tokens(frame, text_col, id_col)
        g = _explode(toks, _dsir_grams_of(F.col("_toks")), "_g", id_col)
        h = portable_hash64("_g", 13) if portable else fast_hash64("_g", 13)
        bucket = F.when(F.col("_g").isNotNull(), F.pmod(h, F.lit(b)))
        keep = [id_col, _DOC] if id_col else []
        return g.select(*keep, bucket.alias("_bucket"))

    # persist is load-bearing for BOTH count tables: each is ≤ B rows
    # (KBs), but each feeds TWO consumers — the per-bucket log-ratio
    # join AND its own scalar total — and without the persist Spark
    # re-derives the lineage per consumer, i.e. a full extra corpus
    # scan + gram explode just to sum 10k counts (measured: 145 s →
    # 93 s at the 1M-doc probe, BASELINE.md r11). Registered with the
    # session cache registry (polaroam_spark.unpersist_caches()) so
    # long-lived sessions can release them (r11 ADVICE)
    from ..cache import track

    raw = track(
        _buckets(corpus)
        .groupBy("_bucket")
        .agg(F.count("*").cast("double").alias("_c_raw"))
        .persist()
    )
    tgt = track(
        _buckets(target)
        .groupBy("_bucket")
        .agg(F.count("*").cast("double").alias("_c_tgt"))
        .persist()
    )
    # r19 optimization round: measured and deliberately left LAZY.
    # On a cold cache the AQE broadcast subqueries consuming these
    # tables race, and the corpus/target gram explodes each run
    # ~twice (stage-profiled: 4 duplicate explode stages, ~6.3s of
    # the bench row's 9.5s CPU) — but an eager union-of-counts
    # materialization (the kn_ngram pattern one function up) measured
    # 3x WORSE wall here ([10.7-19.5s] vs [3.3-4.3s] back-to-back):
    # the duplicate builds overlap on idle cores inside one action,
    # while the eager job serializes the model build ahead of the
    # scoring scan it would otherwise overlap with. The two shapes
    # differ from kn_ngram's (6 tables, 5-way join fan-in) enough
    # that the same fix inverts — re-measure before copying either
    # pattern.
    t_raw = raw.agg(
        F.coalesce(F.sum("_c_raw"), F.lit(0.0)).alias("_t_raw")
    )
    t_tgt = tgt.agg(
        F.coalesce(F.sum("_c_tgt"), F.lit(0.0)).alias("_t_tgt")
    )
    # B-row log-ratio table: raw-side base (scoring only ever probes
    # buckets the corpus itself populates), target counts coalesce 0
    lw = (
        raw.join(tgt, on="_bucket", how="left")
        .crossJoin(F.broadcast(t_raw))
        .crossJoin(F.broadcast(t_tgt))
        .select(
            "_bucket",
            (
                F.log(F.coalesce(F.col("_c_tgt"), F.lit(0.0)) + lam)
                - F.log(F.col("_t_tgt") + lam * b)
                - F.log(F.col("_c_raw") + lam)
                + F.log(F.col("_t_raw") + lam * b)
            ).alias("_lw"),
        )
    )
    scored = _buckets(corpus, id_col).join(
        F.broadcast(lw), on="_bucket", how="left"
    )
    return _join_back(
        corpus, scored, id_col, F.sum("_lw").alias("dsir_logweight")
    )


def _finite_score(score_col: str) -> Column:
    """Score column as double with NaN mapped to NULL. A NaN from a
    failed scorer must behave like NULL everywhere downstream:
    ``F.percentile`` sorts NaN ABOVE every real value (it would skew
    the bounds), and clamp/scale expressions would otherwise launder
    it into a legitimate-looking top-of-range score."""
    sc = F.col(score_col).cast("double")
    return F.when(~F.isnan(sc), sc)


def _stratum_cuts(
    df: DataFrame,
    sc: Column,
    strata_col: str,
    points: "list[tuple[str, float]]",
    accuracy: str,
    approx_accuracy: int,
) -> DataFrame:
    """Per-stratum percentile cut table shared by
    :func:`winsorize_scores` / :func:`robust_scale_scores` (the
    :func:`perplexity_buckets` shape): ONE hash-partitioned
    aggregation producing #strata rows — named cut columns per
    ``points`` entry — that the caller broadcast-joins back. Never a
    per-row window frame. ``accuracy='exact'`` uses Spark's exact
    ``percentile`` (aggregation buffer is a value→count map, i.e.
    ~stratum-sized for near-all-distinct doubles — fine until the
    dominant stratum IS the corpus); ``'approx'`` is the 100 TB
    path: a mergeable ``percentile_approx`` sketch bounded by
    ``approx_accuracy`` regardless of stratum size, combining
    map-side."""
    if accuracy not in ("exact", "approx"):
        raise ValueError(
            f"accuracy must be 'exact' or 'approx' (got {accuracy!r})"
        )
    reserved = {"_ws_g"} | {name for name, _ in points}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            "the per-stratum conditioners reserve column names "
            f"{sorted(reserved)}; rename {sorted(clash)} first"
        )
    if accuracy == "exact":
        cut = lambda p: F.percentile("_ws_s", F.lit(p))  # noqa: E731
    else:
        cut = lambda p: F.percentile_approx(  # noqa: E731
            "_ws_s", F.lit(p), F.lit(int(approx_accuracy))
        )
    return (
        df.select(
            F.col(strata_col).alias("_ws_g"), sc.alias("_ws_s")
        )
        .filter(F.col("_ws_s").isNotNull())
        .groupBy("_ws_g")
        .agg(*[cut(p).alias(name) for name, p in points])
    )


def winsorize_scores(
    df: DataFrame,
    score_col: str = "quality_score",
    strata_col: str = "source",
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str = "winsorized_score",
    accuracy: str = "exact",
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Clamp scores to their per-stratum ``[lower, upper]``
    percentiles (winsorization) — the outlier guard a pipeline
    applies before averaging or regressing on heavy-tailed signals
    (lengths, perplexities, classifier logits), where a handful of
    pathological documents otherwise own the mean. Per-stratum for
    the same reason :func:`calibrate_scores` is: the tails of curated
    text and web scrape are different animals.

    Plan: one hash-partitioned aggregation computes both bounds per
    stratum (#strata output rows), broadcast-joined back — the
    :func:`perplexity_buckets` shape, NOT a per-row window frame.
    NULL and NaN scores stay NULL — a failed scorer is not "at the
    1st percentile" — and are excluded from the percentile bounds
    (see :func:`_finite_score`).

    ``accuracy`` — the exact-vs-mergeable trade (the r18
    perplexity_buckets lesson, same buffer shape): ``'exact'``
    (default, the t16 oracle contract) uses exact ``F.percentile``,
    whose aggregation buffer is a value→count map per stratum —
    near-all-distinct double scores make it ~STRATUM-sized, and on a
    real web corpus the dominant source is ~the corpus, so one
    reducer holds a corpus-scale buffer. ``'approx'`` is the 100 TB
    path: a mergeable ``percentile_approx`` sketch whose state is
    bounded by ``approx_accuracy`` (not stratum size), shifting each
    bound by at most ``1/approx_accuracy`` of the stratum's rank
    range — clamped rows then clamp to the shifted bound (their
    values differ from exact by the bound shift), and the clamp
    DECISION flips only for the sliver of rows between the exact and
    sketch bounds (certified ≤ max(4, 1%) rows per stratum by the
    t61 gate; measured 90/10-skew probe in BASELINE.md).
    """
    if not 0.0 <= float(lower) < float(upper) <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    sc = _finite_score(score_col)
    cuts = _stratum_cuts(
        df,
        sc,
        strata_col,
        [("_ws_lo", float(lower)), ("_ws_hi", float(upper))],
        accuracy,
        approx_accuracy,
    )
    out = df.join(
        F.broadcast(cuts),
        F.col(strata_col).eqNullSafe(F.col("_ws_g")),
        "left",
    )
    # greatest/least SKIP nulls (a NULL score would come back as the
    # lower bound), so gate explicitly: NULL/NaN in, NULL out
    return out.withColumn(
        out_col,
        F.when(
            sc.isNotNull(),
            F.least(
                F.greatest(sc, F.col("_ws_lo")), F.col("_ws_hi")
            ),
        ),
    ).drop("_ws_g", "_ws_lo", "_ws_hi")


def perplexity_buckets(
    df: DataFrame,
    score_col: str = "mean_kn_logprob",
    group_col: "str | None" = "lang",
    head_fraction: float = 1.0 / 3.0,
    middle_fraction: float = 1.0 / 3.0,
    out_col: str = "perplexity_bucket",
    accuracy: str = "exact",
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    2020 §4.4: per language, split the corpus at exact perplexity
    percentiles into three quality bands — 'head' is the
    best-scoring slice a pipeline trains on first): label each row
    by where its score falls against its GROUP's exact percentile
    cut points. Scores here are mean n-gram LOG-PROBABILITIES
    (:func:`kn_ngram_logprob_vs_reference`'s output — higher =
    lower perplexity = better), so 'head' is the TOP
    ``head_fraction`` of scores, 'middle' the next
    ``middle_fraction``, 'tail' the rest.

    Plan: one hash-partitioned aggregation computes the two
    percentile cuts per group (#groups output rows), broadcast-
    joined back — cheaper than the per-stratum window
    :func:`winsorize_scores` pays (no per-row frame evaluation).
    NULL and NaN scores bucket NULL (a failed scorer is not 'tail'
    — same contract as the other score conditioners); a group whose
    scores are ALL NULL has no cuts and buckets NULL throughout.
    ``group_col=None`` buckets the whole frame as one group.

    ``accuracy`` — the exact-vs-mergeable trade, and it matters at
    deployment scale: ``'exact'`` (default, the oracle contract)
    uses Spark's exact ``percentile``, whose aggregation buffer is a
    value→count map per group; mean-KN-logprob scores are
    near-all-distinct doubles, so that buffer is ~GROUP-sized — and
    on a real web corpus the DOMINANT language is ~half the corpus,
    so one reducer holds a corpus-scale buffer (grouping by language
    does NOT bound it; CCNet itself cuts on per-shard histograms,
    Wenzek et al. §4.4). ``'approx'`` is the 100 TB path: a
    mergeable ``percentile_approx`` sketch whose state is bounded by
    ``approx_accuracy`` (not by group size) and combines map-side,
    shifting each cut by at most ``1/approx_accuracy`` of the
    group's rank range — bucket assignment disagrees with exact only
    for the sliver of rows between the two cut values (certified
    ≥99% agreement by the t55 gate; measured r18 probe in
    BASELINE.md: 500k rows, 90% one language — both paths run, the
    exact path's buffer is the group size while approx stays at the
    sketch bound).

    Boundary rule: a score exactly AT a cut lands in the BETTER
    bucket (cc_net's digitize puts the cutoff value in the lower-
    perplexity band). Implementation detail with a contract: the
    percentile points are nudged DOWN by 1e-9 before evaluation —
    ``1 - 1/3 - 1/3`` in binary floats lands a hair above the true
    third, which would push the interpolated cut infinitesimally
    past the boundary sample and flip its bucket; the nudge makes
    the inclusive boundary deterministic on any engine at the cost
    of a ≤1e-9 quantile shift (sub-row for groups under ~1e9
    rows)."""
    hf = float(head_fraction)
    mf = float(middle_fraction)
    if not (0.0 < hf <= 1.0) or not (0.0 <= mf <= 1.0 - hf):
        raise ValueError(
            "need 0 < head_fraction <= 1 and 0 <= middle_fraction "
            f"<= 1 - head_fraction (got {hf}, {mf})"
        )
    if accuracy not in ("exact", "approx"):
        raise ValueError(
            f"accuracy must be 'exact' or 'approx' (got {accuracy!r})"
        )
    sc = _finite_score(score_col)
    g = (
        F.col(group_col)
        if group_col is not None
        else F.lit("__all__")
    )
    p_head = max(0.0, 1.0 - hf - 1e-9)
    p_mid = max(0.0, 1.0 - hf - mf - 1e-9)
    if accuracy == "exact":
        cut = lambda p: F.percentile("_ppb_s", F.lit(p))  # noqa: E731
    else:
        cut = lambda p: F.percentile_approx(  # noqa: E731
            "_ppb_s", F.lit(p), F.lit(int(approx_accuracy))
        )
    cuts = (
        df.select(g.alias("_ppb_g"), sc.alias("_ppb_s"))
        .filter(F.col("_ppb_s").isNotNull())
        .groupBy("_ppb_g")
        .agg(
            cut(p_head).alias("_ppb_cut_head"),
            cut(p_mid).alias("_ppb_cut_mid"),
        )
    )
    out = df.join(
        F.broadcast(cuts), g.eqNullSafe(F.col("_ppb_g")), "left"
    )
    # sc NULL -> NULL; group with no finite scores implies sc NULL
    # for every row, so the cut columns are never consulted there
    bucket = (
        F.when(sc.isNull(), F.lit(None).cast("string"))
        .when(sc >= F.col("_ppb_cut_head"), F.lit("head"))
        .when(sc >= F.col("_ppb_cut_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.withColumn(out_col, bucket).drop(
        "_ppb_g", "_ppb_cut_head", "_ppb_cut_mid"
    )


def robust_scale_scores(
    df: DataFrame,
    score_col: str = "quality_score",
    strata_col: str = "source",
    out_col: str = "scaled_score",
    accuracy: str = "exact",
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Median/IQR standardization per stratum:
    ``(score − median) / (p75 − p25)`` — the outlier-immune
    alternative to z-scoring (mean and stddev are exactly the
    statistics a heavy tail corrupts). Comparable scales across
    strata let one threshold drive mixed-source selection.

    Degenerate strata (IQR = 0: over half the scores identical)
    scale to NULL rather than ±inf — there is no spread to scale by,
    and propagating a sentinel 0 would silently rank every doc
    "average". NULL and NaN scores stay NULL. Same #strata
    aggregation + broadcast join-back as :func:`winsorize_scores`
    (never a per-row window frame), and the same ``accuracy`` trade:
    ``'exact'`` (default, the t17 oracle contract) buffers a
    ~stratum-sized value→count map per reducer; ``'approx'`` is the
    100 TB path — a mergeable ``percentile_approx`` sketch bounded
    by ``approx_accuracy``, whose median/IQR differ from exact by at
    most ``1/approx_accuracy`` of the stratum's rank range
    (certified by the t61 gate; measured 90/10-skew probe in
    BASELINE.md).
    """
    sc = _finite_score(score_col)
    cuts = _stratum_cuts(
        df,
        sc,
        strata_col,
        [("_ws_p25", 0.25), ("_ws_med", 0.5), ("_ws_p75", 0.75)],
        accuracy,
        approx_accuracy,
    )
    out = df.join(
        F.broadcast(cuts),
        F.col(strata_col).eqNullSafe(F.col("_ws_g")),
        "left",
    )
    iqr = F.col("_ws_p75") - F.col("_ws_p25")
    return out.withColumn(
        out_col,
        F.when(
            sc.isNotNull() & (iqr > 0),
            (sc - F.col("_ws_med")) / iqr,
        ),
    ).drop("_ws_g", "_ws_p25", "_ws_med", "_ws_p75")


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    stride: int = 10,
    portable: bool = False,
) -> DataFrame:
    """Cross-document duplicated-SPAN statistics (the signal behind
    substring-level dedup, Lee et al. 2021 "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): slide a
    ``window``-token window with ``stride`` over every document,
    count how many of a document's spans occur more than once in the
    corpus (including self-repetition). Appends ``n_spans``,
    ``n_dup_spans``, ``dup_span_ratio`` — the copy-paste measure that
    line-level stats miss (verbatim passages rarely align to line
    boundaries) and whole-doc Jaccard dilutes (a 5% copied chunk in
    an otherwise-unique page).

    The paper's exact suffix-array machinery finds every duplicated
    substring; the strided-window form is the standard distributable
    relaxation: any duplicated passage ≥ ``window + stride - 1``
    tokens is guaranteed to contribute at least one aligned
    duplicated window when the copies are token-aligned, shorter or
    misaligned copies degrade gracefully. Documents under ``window``
    tokens emit no spans (``dup_span_ratio`` NULL — no evidence
    either way).

    Shape: explode spans → one groupBy on the span key (map-side
    combined) → join the multiplicity back → per-doc aggregate, joined
    back on ``id_col`` (:func:`_join_back`: unique and non-NULL, or
    the action raises); all shuffles keyed by span/doc.
    ``portable=False`` (default) folds each span to a 64-bit xxhash64
    so the shuffle carries 8 bytes per span, not ~window·6 text bytes
    — at corpus scale the span
    text must not move twice; ``portable=True`` keeps span STRINGS
    (what a SQL oracle reproduces; collision-free). 64 bits is
    deliberate HERE and not in :func:`dedup_spans`: a birthday
    collision in a STATS operator nudges one count by one
    (~10^5 affected rows out of 10^12 spans at 100 TB — noise),
    while the removal operator deletes text on key equality and
    therefore keys on 128 bits.
    """
    window = int(window)
    stride = int(stride)
    if window < 2 or stride < 1:
        raise ValueError("need window >= 2 and stride >= 1")
    toks = F.col("_toks")
    n = F.size(toks)
    starts = F.when(
        n >= window,
        F.sequence(F.lit(0), n - window, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    span = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, window))
    key = (
        (lambda i: F.xxhash64(span(i)))
        if not portable
        else span
    )
    ex = _explode(
        _doc_tokens(df, text_col, id_col),
        F.transform(starts, key),
        "_span",
        id_col,
    )
    mult = ex.filter(F.col("_span").isNotNull()).groupBy("_span").agg(
        F.count("*").alias("_c")
    )
    return _join_back(
        df,
        ex.join(mult, on="_span", how="left"),
        id_col,
        F.count("_span").cast("bigint").alias("n_spans"),
        F.coalesce(
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_dup_spans"),
    ).withColumn(
        "dup_span_ratio",
        F.when(
            F.col("n_spans") > 0,
            F.col("n_dup_spans") / F.col("n_spans"),
        ),
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    stride: int = 10,
) -> DataFrame:
    """Cross-document duplicated-SPAN REMOVAL — the acting half of
    :func:`duplicated_span_stats` (Lee et al. 2021, arXiv:2107.06499
    §4 ExactSubstr: drop every repeated passage, keeping one copy):
    slide the same ``window``-token / ``stride`` span grid, and for
    every span text that occurs more than once in the corpus, MASK
    the covered token range of every occurrence except the globally
    first one (ordered by ``(doc_id, start)`` — deterministic on any
    engine). Returns ``[id_col, text, n_tokens_before,
    n_tokens_after, n_spans_removed]`` where ``text`` is rebuilt
    from the surviving tokens.

    Span identity is case-insensitive and whitespace-normalized
    (the stats operator's key); the rebuilt text keeps the original
    token case but single-space joins — substring dedup is a
    token-level transform, byte-exact whitespace does not survive it
    (documented, same relaxation as the strided grid itself).
    Overlapping masked spans union; a masked range may also overlap
    the kept first occurrence's tokens elsewhere in the same doc —
    the removal is range-wise, not occurrence-paired.

    Rows with a NULL ``id_col`` are DROPPED up front (same policy as
    ``timeseries._collapsed_obs`` and ``graph.connected_components``:
    null is not a key) — a null id would otherwise sort FIRST in
    Spark's struct ordering but LAST under a SQL oracle's ``ORDER BY``,
    making the "first occurrence" owner engine-dependent.

    Scale shape (the part that matters at 100 TB): first-occurrence
    selection is ``min(struct(doc_id, start))`` per span — ONE
    map-side-combined aggregate, NOT a per-span window rank, so a
    span duplicated 10^6 times costs one combiner cell, never a
    10^6-row sorted partition. The join back is N-occurrences ×
    1-first-row per key (output-bound, no pair explosion). Per-doc
    mask application is a JVM higher-order ``filter``/``exists``
    over (tokens × removed ranges) — quadratic only in the
    pathological fully-self-duplicated doc, and a doc already fits
    in one task by the corpus contract. The span key is a 128-BIT
    composite — two independently-salted ``xxhash64`` halves — so
    the shuffle carries 16 bytes instead of ~window·6 text bytes
    while keeping the deletion safe at corpus scale: expected
    birthday collisions are ~n²/2^129 (vacuous even at the 10^12
    spans of a 100 TB corpus), where a single 64-bit key would
    expect on the order of 10^5 false merges there, each silently
    deleting a non-duplicate passage.
    """
    window = int(window)
    stride = int(stride)
    if window < 2 or stride < 1:
        raise ValueError("need window >= 2 and stride >= 1")
    raw = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), raw.alias("_toks")
    )
    n = F.size("_toks")
    starts = F.when(
        n >= window,
        F.sequence(F.lit(0), n - window, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    span = lambda i: F.concat_ws(  # noqa: E731
        " ",
        F.transform(
            F.slice("_toks", i + 1, window), lambda t: F.lower(t)
        ),
    )
    occ = base.select(
        "_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(i.alias("_s"), span(i).alias("_sp")),
            )
        ).alias("_o"),
    ).select(
        "_id",
        F.col("_o._s").alias("_s"),
        # 128-bit composite key: the span string never leaves this
        # (pre-shuffle) stage; only the two 8-byte halves shuffle
        F.xxhash64(F.col("_o._sp")).alias("_h1"),
        F.xxhash64(F.lit(1), F.col("_o._sp")).alias("_h2"),
    )
    firsts = occ.groupBy("_h1", "_h2").agg(
        F.count("*").alias("_c"),
        F.min(F.struct("_id", "_s")).alias("_first"),
    )
    removed = (
        occ.join(firsts, on=["_h1", "_h2"], how="inner")
        .filter(
            (F.col("_c") > 1)
            & ~(
                (F.col("_id") == F.col("_first._id"))
                & (F.col("_s") == F.col("_first._s"))
            )
        )
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("_s")).alias("_rm"))
    )
    joined = base.join(removed, on="_id", how="left").withColumn(
        "_rm", F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        "_toks",
        lambda t, i: ~F.exists(
            "_rm", lambda s: (i >= s) & (i < s + F.lit(window))
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", kept).alias("text"),
        F.size("_toks").cast("bigint").alias("n_tokens_before"),
        F.size(kept).cast("bigint").alias("n_tokens_after"),
        F.size("_rm").cast("bigint").alias("n_spans_removed"),
    )


def url_features(url: Column | str) -> Column:
    """``struct<scheme, host, registered_domain, tld, path_depth,
    has_query>`` parsed from a URL column — all native expressions
    (``F.try_parse_url`` is JVM-side and NULL-on-malformed — ANSI ``parse_url`` throws), the input to the domain-level
    moves of corpus curation: per-domain caps
    (``sampling.cap_per_key`` keyed on ``registered_domain``),
    blocklists (:func:`filter_by_domain`), domain mix reports.

    ``registered_domain`` is the NAIVE last-two-labels rule
    (``a.b.c.example.co.uk`` → ``co.uk``): correct for generic TLDs,
    wrong for multi-label public suffixes. For PSL-accurate grouping
    use :func:`attach_registered_domain` with a caller-supplied
    suffix table (a broadcast longest-match join — the PSL is a
    versioned external artifact, deliberately not bundled); at the
    cap/blocklist granularity the naive rule groups strictly COARSER
    than the PSL one, so a cap keyed on it is conservative (never
    lets a site exceed its budget by splitting across subdomains).
    Malformed URLs yield NULL fields (parse_url returns NULL, never
    throws).
    """
    u = _col(url)
    host = F.try_parse_url(u, F.lit("HOST"))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    path = F.try_parse_url(u, F.lit("PATH"))
    return F.struct(
        F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
        .alias("scheme"),
        host.alias("host"),
        F.when(
            n >= 2,
            F.concat_ws(
                ".", F.element_at(labels, -2), F.element_at(labels, -1)
            ),
        )
        .otherwise(host)
        .alias("registered_domain"),
        F.when(n >= 1, F.element_at(labels, -1)).alias("tld"),
        F.size(
            F.filter(F.split(F.coalesce(path, F.lit("")), "/"), lambda s: s != "")
        )
        .cast("long")
        .alias("path_depth"),
        F.try_parse_url(u, F.lit("QUERY")).isNotNull().alias("has_query"),
    )


def attach_registered_domain(
    df: DataFrame,
    url_col: str = "url",
    suffix_list: "DataFrame | None" = None,
    suffix_col: str = "suffix",
    out_col: str = "registered_domain",
    max_suffix_labels: int = 6,
) -> DataFrame:
    """Add a ``registered_domain`` column, optionally backed by a
    caller-supplied PUBLIC SUFFIX LIST (r8 verdict #5 / r9 #5).

    Without ``suffix_list`` this is the naive last-two-labels rule of
    :func:`url_features` — correct for generic TLDs, coarse for
    multi-label suffixes (``a.example.co.uk`` → ``co.uk``). With a
    ``suffix_list`` DataFrame (one lowercase suffix per row in
    ``suffix_col``: ``com``, ``co.uk``, … — the PSL is a versioned
    external artifact, which is why it is caller-supplied rather
    than bundled) the column follows PSL semantics:

    - the public suffix of a host is its LONGEST label-suffix in the
      list (``co.uk`` beats ``uk``); when nothing matches, the
      prevailing ``*`` rule applies (public suffix = last label);
    - ``registered_domain`` = the matched suffix plus ONE preceding
      label; NULL when the host IS a public suffix (nothing is
      registered under it) or the URL has no parseable host.
      Wildcard (``*.ck``) and exception (``!www.ck``) PSL rule
      syntax is not interpreted — pre-expand such rules into plain
      suffixes when building the table.

    Plan shape, designed for a 100 TB probe side: the suffix list is
    deduped, lowercased, and joined BROADCAST once per candidate
    depth (label-suffixes of length 1..min(longest list entry,
    ``max_suffix_labels``)) — a chain of map-side broadcast hash
    joins on precomputed candidate keys. No explode, no groupBy, no
    shuffle of the probe side; longest-match resolves as a plain
    CASE over the per-depth hit flags.
    """
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    if suffix_list is None:
        naive = F.when(
            n >= 2,
            F.concat_ws(
                ".", F.element_at(labels, -2), F.element_at(labels, -1)
            ),
        ).otherwise(host)
        return df.withColumn(out_col, naive)

    lst = (
        suffix_list.select(
            F.lower(F.col(suffix_col)).alias("_psl_suffix")
        )
        .filter(F.col("_psl_suffix").isNotNull())
        .dropDuplicates()
    )
    longest = lst.agg(
        F.max(F.size(F.split(F.col("_psl_suffix"), r"\."))).alias("d")
    ).first()["d"]
    depth = max(1, min(int(longest or 1), int(max_suffix_labels)))

    probe = df.withColumns(
        {"_psl_host": host, "_psl_labels": labels}
    )
    for d in range(1, depth + 1):
        probe = probe.withColumn(
            f"_psl_cand{d}",
            F.when(
                F.size("_psl_labels") >= d,
                F.concat_ws(
                    ".", F.slice(F.col("_psl_labels"), -d, d)
                ),
            ),
        ).join(
            F.broadcast(
                lst.select(
                    F.col("_psl_suffix").alias(f"_psl_cand{d}"),
                    F.lit(True).alias(f"_psl_hit{d}"),
                )
            ),
            on=f"_psl_cand{d}",
            how="left",
        )

    nn = F.size("_psl_labels")
    reg = None
    for d in range(depth, 0, -1):
        # matched at depth d: registered = suffix + one more label,
        # NULL when the host IS the suffix (n == d)
        val = F.when(
            nn > d,
            F.concat_ws(
                ".",
                F.element_at(F.col("_psl_labels"), -(d + 1)),
                F.col(f"_psl_cand{d}"),
            ),
        )
        cond = F.col(f"_psl_hit{d}").isNotNull()
        reg = F.when(cond, val) if reg is None else reg.when(cond, val)
    # prevailing '*' rule: unknown TLD -> public suffix = last label
    reg = reg.otherwise(
        F.when(
            nn >= 2,
            F.concat_ws(
                ".",
                F.element_at(F.col("_psl_labels"), -2),
                F.element_at(F.col("_psl_labels"), -1),
            ),
        )
    )
    drop = ["_psl_host", "_psl_labels"] + [
        c
        for d in range(1, depth + 1)
        for c in (f"_psl_cand{d}", f"_psl_hit{d}")
    ]
    return probe.withColumn(out_col, reg).drop(*drop)


def filter_by_domain(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    keep: bool = False,
    broadcast: bool = True,
    suffix_list: "DataFrame | None" = None,
) -> DataFrame:
    """Drop (default) or keep (``keep=True``) rows whose URL's
    ``registered_domain`` appears in ``blocklist[domain_col]`` — the
    blocklist/allowlist primitive of corpus curation. The list side
    is deduped, lowercased, and broadcast (a curated domain list is
    KBs–MBs; ``broadcast=False`` falls back to a shuffle join for a
    list that genuinely is not — e.g. a full host-level CDX
    extract). Anti/semi join: the probe side never shuffles when
    broadcast, rows with unparseable URLs have NULL domains and are
    always KEPT on blocklist mode (a malformed URL is not evidence
    of a blocked domain) and dropped on allowlist mode.

    ``suffix_list`` (optional): a public-suffix table forwarded to
    :func:`attach_registered_domain`, so blocking ``example.co.uk``
    actually blocks that site instead of grouping half the UK under
    ``co.uk``; omitted → the naive rule, as before.
    """
    lst = blocklist.select(
        F.lower(F.col(domain_col)).alias("_dom")
    ).dropDuplicates()
    if not blocklist.limit(1).count():
        # the badword_stats rule (r19): an empty list DataFrame in
        # block mode silently drops NOTHING (the blocklist looks
        # applied when it is not) and in allowlist mode silently
        # drops EVERYTHING — both are upstream bugs, not intents;
        # bounded limit(1) probe
        raise ValueError(
            "filter_by_domain: empty domain list — a 0-row "
            "blocklist blocks nothing (and a 0-row allowlist "
            "keeps nothing); fix the list upstream"
        )
    if broadcast:
        lst = F.broadcast(lst)
    if suffix_list is not None:
        probe = attach_registered_domain(
            df, url_col=url_col, suffix_list=suffix_list, out_col="_dom"
        ).withColumn("_dom", F.lower(F.col("_dom")))
    else:
        probe = df.withColumn(
            "_dom", F.lower(url_features(url_col)["registered_domain"])
        )
    how = "left_semi" if keep else "left_anti"
    return probe.join(lst, on="_dom", how=how).drop("_dom")


#: naive entity decode map, applied in order — `&amp;` LAST so
#: double-escaped entities decode one level per pass, never two.
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def normalize_text(
    text: Column | str,
    form: str = "NFC",
    casefold: bool = False,
) -> Column:
    """Unicode-normalize a text column (UAX #15: NFC/NFD/NFKC/NFKD),
    optionally casefolding — the canonicalization pass that belongs
    BEFORE any content-hash dedup key: 'café' composed and 'café'
    decomposed are different byte strings (different xxhash64,
    different minhash shingles, different exact-dedup groups) but the
    same text to every reader, and mixed-normalization corpora are
    the norm once more than one scraper contributed. NFKC also folds
    compatibility forms (ligatures, full-width latin, superscripts) —
    the aggressive variant dedup keys want; NFC is the lossless
    default for text that will be SERVED.

    The one Arrow-batched UDF in this module (Unicode normalization
    tables are not expressible in Catalyst); map-side only, no
    shuffle, NULL in → NULL out. Python's unicodedata implements the
    same UAX #15 algorithm DuckDB's nfc_normalize does, which is what
    the t30 oracle replays.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    f = str(form).upper()
    if f not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(
            f"form must be NFC/NFD/NFKC/NFKD (got {form!r})"
        )
    cf = bool(casefold)

    def _norm(s):
        if not isinstance(s, str):
            return None
        out = unicodedata.normalize(f, s)
        return out.casefold() if cf else out

    # explicit (fn, returnType) form with an UNANNOTATED callable:
    # the local `pd` import is invisible to the string-annotation
    # resolver under `from __future__ import annotations` (same
    # convention as similarity.pq_encode's arrow path)
    def _batch(col):
        return col.map(_norm)

    udf = pandas_udf(_batch, "string")
    return udf(_col(text))


def strip_html(text: Column | str) -> Column:
    """Plain text from an HTML column — the regex-chain relaxation of
    a real extractor (trafilatura/jusText class tools need a DOM; at
    corpus scale the standard first pass is exactly this): drop
    ``<script>``/``<style>`` elements WITH their contents (their text
    is code, not prose — tag-only stripping would leak it into the
    corpus), drop comments, drop remaining tags, decode the six
    common entities, collapse whitespace. All JVM ``regexp_replace``
    calls — single-pass map-side, shuffle-free, and every pattern is
    RE2-compatible (``(?is)`` inline flags, no lookaround) so a SQL
    oracle replays the identical chain. NULL in → NULL out.

    Known relaxations (documented, inherent to regex-land): CDATA
    sections and ``<`` inside attribute values can confuse the tag
    regex; entity decode is the six-name table, not the full HTML5
    list. Both are noise at corpus scale, not correctness bugs —
    the operator's contract is "boilerplate-free prose", not a DOM.
    """
    c = _col(text)
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, repl in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


#: block-level elements whose open/close marks a content-line break
_BLOCK_TAG_RE = (
    r"(?is)</?(?:p|div|h[1-6]|li|ul|ol|tr|td|th|table|section|"
    r"article|header|footer|nav|aside|blockquote|form)\b[^>]*>"
    r"|(?is)<br\s*/?>"
)


def _line_plain_text(c: Column) -> Column:
    """strip_html's tail for ONE line inside a lambda: drop tags,
    decode the six entities, collapse whitespace."""
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, repl in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def extract_main_content(
    html: Column | str,
    min_chars: int = 25,
    max_link_density: float = 0.5,
) -> Column:
    """Main-content extraction from raw HTML by LINK DENSITY — the
    jusText/trafilatura class heuristic's regex-land relaxation, one
    notch above :func:`strip_html` (which keeps nav/footer chrome):
    split the page at block-element boundaries, and keep only blocks
    that (a) carry at least ``min_chars`` of plain text and (b) whose
    anchor-text share is at most ``max_link_density`` — navigation,
    link farms, footers and tag clouds are mostly anchor text, prose
    is not (Kohlschütter et al., WSDM 2010 measure exactly this
    signal as the strongest single boilerplate feature). Returns the
    kept blocks' plain text joined with newlines.

    All JVM higher-order expressions — split → transform (per-block
    plain text + anchor-text length via regexp_extract_all/aggregate)
    → filter → concat_ws — shuffle-free, RE2-compatible, so a SQL
    oracle replays the identical chain. NULL in → NULL out. Same
    documented relaxations as strip_html (no DOM: CDATA / ``<`` in
    attributes can confuse the tag regex).
    """
    c = _col(html)
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    # collapse SOURCE newlines to spaces BEFORE inserting block
    # boundaries (r12 ADVICE): pretty-printed HTML wraps paragraphs
    # across source lines, and splitting on those would score each
    # source line as its own block — wrapped tails under min_chars
    # silently vanish and link density is computed per line, not per
    # block. After this, every \n in the string is one WE inserted
    # at a block-tag boundary.
    c = F.regexp_replace(c, r"[\r\n]+", " ")
    c = F.regexp_replace(c, _BLOCK_TAG_RE, "\n")
    blocks = F.split(c, r"\n")
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _line_plain_text(b).alias("txt"),
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(
                        b, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), F.lit(1)
                    ),
                    lambda a: F.length(_line_plain_text(a)),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("link_len"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["txt"]) >= F.lit(int(min_chars)))
        & (
            s["link_len"]
            <= F.length(s["txt"]) * F.lit(float(max_link_density))
        ),
    )
    joined = F.concat_ws(
        "\n", F.transform(kept, lambda s: s["txt"])
    )
    # concat_ws maps a NULL array to '' — restore NULL-in/NULL-out
    return F.when(_col(html).isNotNull(), joined)


#: default drop phrases (C4 §2.1, Raffel et al. 2020): lines carrying
#: these are site chrome, not content.
C4_DROP_PHRASES = ["javascript", "cookie", "privacy policy", "terms of use"]


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    drop_phrases: list[str] | None = None,
) -> DataFrame:
    """The C4 line-level cleaning pass (Raffel et al. 2020, §2.1):
    keep only lines that look like sentences — at least
    ``min_words`` words, ending in terminal punctuation (``.!?"``,
    when ``require_terminal_punct``), and carrying none of the
    ``drop_phrases`` (case-insensitive substring). Appends
    ``text_filtered`` (kept lines re-joined with newlines),
    ``n_lines_before``, ``n_lines_kept`` — the counts feed document-
    level thresholds (C4 drops pages retaining too little).

    Shuffle-free: one split → array ``filter`` with the three rules
    as a single lambda → ``concat_ws``; everything JVM-side and
    RE2-expressible for the oracle. NULL text yields 0/0 counts and
    NULL filtered text.
    """
    phrases = C4_DROP_PHRASES if drop_phrases is None else drop_phrases
    lines = F.split(F.col(text_col), r"\n")

    def _keep(line: Column) -> Column:
        t = F.trim(line)
        ok = F.size(
            F.filter(F.split(t, r"\s+"), lambda w: w != "")
        ) >= F.lit(int(min_words))
        if require_terminal_punct:
            ok = ok & t.rlike(r'[.!?"]$')
        low = F.lower(t)
        for p in phrases:
            ok = ok & ~low.contains(F.lit(str(p).lower()))
        return ok

    kept = F.filter(lines, _keep)
    return df.withColumns(
        {
            "text_filtered": F.concat_ws("\n", kept),
            "n_lines_before": F.coalesce(
                F.size(lines), F.lit(0)
            ).cast("long"),
            "n_lines_kept": F.coalesce(
                F.size(kept), F.lit(0)
            ).cast("long"),
        }
    ).withColumn(
        "text_filtered",
        F.when(F.col(text_col).isNotNull(), F.col("text_filtered")),
    )


#: UTF-8-decoded-as-Latin-1 fingerprints (the ftfy problem class):
#: '\u00c3'+continuation (mangled Latin letters), '\u00e2\u20ac'-family
#: punctuation, stray '\u00c2\u00a0' (mangled NBSP), and the replacement
#: character itself. Built from escapes so the pattern survives any
#: source-file encoding.
_MOJIBAKE_PATTERN = (
    "(\u00c3[\u0080-\u00bf]|\u00e2\u20ac.|\u00c2\u00a0|\ufffd)"
)


def mojibake_stats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append ``n_mojibake`` and ``mojibake_ratio`` (artifacts per
    character): occurrences of the classic double-decode fingerprints
    — UTF-8 bytes re-decoded as Latin-1/cp1252 ('\u00c3\u00a9' where
    '\u00e9' was meant, '\u00e2\u20ac\u2122' for a right quote,
    '\u00c2\u00a0' for NBSP) and U+FFFD replacement characters. The
    cheap detector for the encoding-corruption class that quality
    scores miss (the text is wordy enough, just wrong) — filter or
    route to re-decoding above a ratio threshold. One
    ``regexp_count`` per row, map-side, shuffle-free; NULL text
    yields count 0 and NULL ratio; the ratio denominator is
    character length.
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.regexp_count(c, F.lit(_MOJIBAKE_PATTERN)).cast("long")
    return df.withColumns(
        {
            "n_mojibake": n,
            "mojibake_ratio": F.when(
                F.length(F.col(text_col)) > 0,
                n.cast("double")
                / F.length(F.col(text_col)).cast("double"),
            ),
        }
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "token_entropy",
) -> DataFrame:
    """Append ``out_col``: Shannon entropy (bits) of the document's
    whitespace-token distribution — ``-Σ_w (c_w/n) log2(c_w/n)`` over
    the lowercased tokens. A low-entropy document repeats a few
    tokens (keyword stuffing, boilerplate, SEO spam); prose sits
    near ``log2(n_distinct)``. Complements :func:`repetition_ratio`
    (which sees only the single most-repeated token/bigram) with the
    whole-distribution view. NULL/empty text → NULL.

    One Arrow-batched pandas UDF (per-doc ``value_counts``) —
    map-only, no shuffle, linear in token volume. A pure-JVM
    formulation would need ``aggregate`` over ``array_distinct``,
    O(n·distinct) per document — quadratic on prose, which is why
    this is one of the few textstats ops that earns its UDF.
    Cross-engine float agreement is at the 6-decimal certification
    level (the t52 convention — summation ORDER differs between
    engines at the 1e-15 scale): round before comparing engines.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    def _batch(col):
        import re as _re

        # explicit ASCII whitespace class: Python's \s is
        # unicode-aware while the library's tokens() splits on the
        # JVM's ASCII \s — match the JVM so entropy tokenizes
        # exactly like token_count on any input
        ws = _re.compile(r"[ \t\n\x0b\f\r]+")

        def one(t):
            if not isinstance(t, str):
                return None
            toks = [w for w in ws.split(t.lower()) if w]
            if not toks:
                return None
            _, counts = np.unique(np.asarray(toks, dtype=object),
                                  return_counts=True)
            p = counts.astype("float64") / counts.sum()
            return float(-(p * np.log2(p)).sum())

        return col.map(one)

    udf = pandas_udf(_batch, "double")
    return df.withColumn(out_col, udf(_col(text_col)))


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "compression_ratio",
    level: int = 6,
) -> DataFrame:
    """Append ``out_col``: ``len(zlib.compress(utf8)) / len(utf8)``
    — the gzip-compressibility quality signal (a MassiveText/
    RefinedWeb-family heuristic): machine-generated repetition
    compresses far below prose (ratio ≪ 0.4 is a red flag), random
    bytes sit near 1. Catches LONG-RANGE duplication inside one
    document that :func:`repetition_ratio`'s local n-gram view and
    :func:`token_entropy`'s unigram view both miss (a paragraph
    pasted 50 times has high token entropy but compresses to
    nothing). NULL/empty text → NULL.

    One Arrow-batched pandas UDF, map-only, no shuffle; zlib level 6
    (the default trade — level changes absolute ratios, so filters
    must be calibrated at a fixed level). The value is deterministic
    for a given zlib build but NOT SQL-replayable (DuckDB has no
    deflate), so the driver gate certifies via a driver-side zlib
    differential instead of a SQL twin — the m3c pattern.
    """
    from pyspark.sql.functions import pandas_udf

    lv = int(level)
    if not -1 <= lv <= 9:
        raise ValueError(f"zlib level must be in [-1, 9], got {level}")

    def _batch(col):
        import zlib as _z

        def one(t):
            if not isinstance(t, str):
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(_z.compress(raw, lv)) / len(raw)

        return col.map(one)

    udf = pandas_udf(_batch, "double")
    return df.withColumn(out_col, udf(_col(text_col)))


#: query parameters that identify a CLICK, not a RESOURCE — the
#: standard tracking set every crawl canonicalizer strips
_TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|igshid"
    r"|yclid|_ga)(=|$)"
)


def canonicalize_url(
    url: Column | str,
    tracking_param_re: str = _TRACKING_PARAM_RE,
    strip_trailing_slash: bool = True,
) -> Column:
    """Canonical form of a URL — the DEDUP KEY step of crawl
    curation: the same resource arrives as dozens of spellings
    (tracking params in shuffled order, fragments, default ports,
    mixed-case hosts), and URL-level dedup only works on a canonical
    spelling. Rules, in order:

    1. drop the fragment (``#...`` — client-side only);
    2. lowercase the scheme and authority (case-insensitive per
       RFC 3986) — the PATH keeps its case (paths are case-
       sensitive);
    3. drop the scheme's default port (``:80`` http / ``:443``
       https);
    4. drop query parameters matching ``tracking_param_re``
       (utm_*/gclid/fbclid/... — click identity, not resource
       identity), SORT the survivors bytewise and rejoin (parameter
       order is almost never semantic; sorting merges the shuffled
       spellings), dropping the ``?`` when nothing survives;
    5. strip trailing slashes from the path
       (``strip_trailing_slash``).

    Everything is JVM regex/array expressions — map-only, no UDF,
    and every rule is RE2-portable so a SQL oracle replays the
    chain. NULL in → NULL out; a string with no ``://`` authority
    is returned unchanged (apply to known-URL columns). Compose
    with ``dedup_exact(key_cols=["canonical_url"])`` for URL-level
    dedup across crawls.
    """
    u = _col(url)
    nofrag = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(
        F.regexp_extract(nofrag, r"^([^:/?#]+)://", 1)
    )
    auth = F.lower(
        F.regexp_extract(nofrag, r"^[^:/?#]+://([^/?#]*)", 1)
    )
    auth = F.when(
        scheme == "http", F.regexp_replace(auth, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(auth, r":443$", "")
    ).otherwise(auth)
    path = F.regexp_extract(
        nofrag, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1
    )
    if strip_trailing_slash:
        path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(tracking_param_re),
        )
    )
    q = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(params, "&")),
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), auth, path, q)
    return F.when(u.isNull(), F.lit(None)).when(
        ~u.contains("://"), u
    ).otherwise(canon)


def badword_stats(
    df: DataFrame,
    words: "DataFrame | list[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append the C4 §2.1 badword-page signals: ``n_badword_hits``
    (total lowercased-token OCCURRENCES matching the blocklist),
    ``badword_ratio`` (hits / token count) and ``has_badword`` — the
    page-level counterpart of :func:`c4_line_filter`'s line rules
    (C4 drops any page with a single hit; gentler pipelines
    threshold the ratio). The word list is CALLER-SUPPLIED (a
    DataFrame with a ``word`` column or a Python list) — like the
    PSL in :func:`attach_registered_domain`, blocklists are
    versioned external artifacts, deliberately not bundled.

    Matching is exact on lowercased whitespace tokens (the
    library's ``tokens()`` rule — no substring matching: "class"
    must not hit a 3-letter entry). Plan shape: one token explode + a
    BROADCAST left join against the (tiny) word list + one doc-keyed
    count of hits and tokens, joined back on ``id_col``
    (:func:`_join_back`: unique and non-NULL, or the action raises) —
    corpus text never shuffles into the count, only one partial row
    per doc and partition does. NULL/empty text rows get 0 hits,
    NULL ratio.
    """
    if isinstance(words, (list, tuple)):
        if not words:
            raise ValueError("badword_stats: empty word list")
        phrases = [
            w for w in words if any(ch.isspace() for ch in str(w))
        ]
        if phrases:
            # matching is per whitespace TOKEN, so a multi-word
            # entry can never hit — silently keeping it would make
            # the blocklist look applied when it is not (the real
            # C4 list contains phrases; split them into their
            # words, or match phrases with the span machinery)
            raise ValueError(
                "badword_stats matches single tokens; these "
                f"entries contain whitespace and can never match: "
                f"{phrases[:5]}"
            )
        wdf = df.sparkSession.createDataFrame(
            [(str(w).lower(),) for w in words], "word string"
        )
    else:
        bad = (
            words.filter(F.col("word").rlike(r"\s"))
            .limit(5)
            .collect()
        )  # bounded: blocklists are small
        if bad:
            raise ValueError(
                "badword_stats matches single tokens; these "
                "entries contain whitespace and can never match: "
                f"{[r.word for r in bad]}"
            )
        if not words.limit(1).count():
            # same failure mode as the empty Python list: every doc
            # would report 0 hits and the blocklist would LOOK
            # applied — bounded probe, same cost class as the
            # phrase check above
            raise ValueError("badword_stats: empty word list")
        wdf = words.select(
            F.lower(F.col("word")).alias("word")
        )
    toks = _explode(
        _doc_tokens(df, text_col, id_col), F.col("_toks"), "word", id_col
    )
    hit = wdf.distinct().withColumn("_hit", F.lit(True))
    out = _join_back(
        df,
        toks.join(F.broadcast(hit), on="word", how="left"),
        id_col,
        F.count("_hit").alias("n_badword_hits"),
        F.count("word").alias("_ntok"),
    ).withColumn(
        "n_badword_hits",
        F.coalesce("n_badword_hits", F.lit(0)).cast("long"),
    )
    return out.withColumn(
        "badword_ratio",
        F.when(
            F.col("_ntok") > 0,
            F.col("n_badword_hits") / F.col("_ntok").cast("double"),
        ),
    ).withColumn(
        "has_badword", F.col("n_badword_hits") > 0
    ).drop("_ntok")
