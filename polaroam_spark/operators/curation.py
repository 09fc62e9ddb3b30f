"""End-to-end corpus curation: the standard cleaning ladder
(normalize → line-clean → length/quality filters → dedup →
decontaminate → per-source cap → sample) as ONE composable call over
the operators this package already certifies individually — what a
user actually runs nightly, with per-stage survivor counts for the
data-quality report.

Beyond-reference component (the reference is a mobility engine); the
stage set mirrors the published recipes (C4 §2.1, Gopher/MassiveText
rules, Lee et al. dedup) without inventing policy: every stage is
opt-in and delegates to the gated operator that implements it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    strip_html_first: bool = False,
    line_filter: bool = False,
    line_filter_opts: dict | None = None,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
    gopher: bool = False,
    quality_threshold: float | None = None,
    badwords: "DataFrame | list[str] | None" = None,
    max_badword_ratio: "float | None" = None,
    min_token_entropy: float | None = None,
    min_compression_ratio: float | None = None,
    compression_level: int = 6,
    classifier_model: dict | None = None,
    classifier_threshold: float = 0.5,
    langid_model: dict | None = None,
    keep_languages: "list[str] | None" = None,
    perplexity_reference: "DataFrame | None" = None,
    perplexity_threshold: float | None = None,
    perplexity_discount: float = 0.75,
    perplexity_order: int = 3,
    perplexity_keep_buckets: "tuple[str, ...] | None" = None,
    perplexity_group_col: "str | None" = None,
    perplexity_bucket_fractions: "tuple[float, float]" = (
        1.0 / 3.0,
        1.0 / 3.0,
    ),
    perplexity_bucket_accuracy: str = "exact",
    dedup: str | None = "exact",
    minhash_opts: dict | None = None,
    decontaminate_against: DataFrame | None = None,
    cap_per_source: int | None = None,
    cap_seed: int = 53,
    sample_rate: float | None = None,
    sample_seed: int = 17,
    split_test_fraction: float | None = None,
    split_seed: int = 29,
    split_pairs: "DataFrame | None" = None,
    split_pairs_opts: dict | None = None,
    with_stats: bool = True,
    persist_stages: bool = False,
) -> tuple[DataFrame, "DataFrame | None"]:
    """Run the curation ladder over ``docs``; returns ``(kept,
    stats)`` where ``kept`` is the surviving rows (text possibly
    rewritten by the transform stages) and ``stats`` is
    ``[stage_idx, stage, n_docs]`` — one row per enabled stage plus
    the input, in execution order (``None`` when
    ``with_stats=False``).

    Stage order (each opt-in): strip_html → c4_line_filter (rewrites
    ``text``; its counts feed the later length filter rather than
    dropping directly) → min/max token filters → Gopher rule gate →
    ``quality_score`` threshold → badword gate (``badwords`` +
    ``max_badword_ratio``: the C4 §2.1 page rule at 0.0 — any
    blocklist hit drops the page; list caller-supplied, exact
    lowercased-token matching via :func:`~polaroam_spark.operators.\
textstats.badword_stats`) → token-entropy gate
    (``min_token_entropy``: drop low-entropy keyword-stuffed docs;
    compared at the operator's 6-decimal rounding so boundary
    membership is engine-deterministic and SQL-replayable) →
    compression gate (``min_compression_ratio`` at
    ``compression_level``: drop docs that deflate suspiciously well
    — long-range in-document repetition; deterministic per zlib
    build but NOT SQL-replayable, so enable it only where the q6
    membership oracle is not in play) → trained classifier gate
    (``classifier_model`` = a
    :func:`~polaroam_spark.operators.quality.train_quality_classifier`
    model; keeps rows whose probability is ≥
    ``classifier_threshold``, and drops no-evidence NULL-score rows
    — the conservative read of "the classifier can't vouch for it")
    → trained language-ID gate (``langid_model`` = a
    :func:`~polaroam_spark.operators.langid.train_langid` model +
    ``keep_languages``; the CCNet/RedPajama langid stage — keeps
    rows whose predicted class is in the list, drops NULL
    predictions by the same conservative read) → KN perplexity gate
    (``perplexity_reference`` + ``perplexity_threshold``: score
    under :func:`~polaroam_spark.operators.textstats.\
kn_ngram_logprob_vs_reference` at ``perplexity_order`` (default 3
    — trigram; any order ≥ 2) and keep documents whose mean n-gram
    log-prob is ≥ the threshold — the CCNet
    keep-the-low-perplexity-tail filter; docs shorter than the
    order NULL-score and drop — OR ``perplexity_keep_buckets``:
    CCNet's published head/middle/tail percentile bucketing via
    :func:`~polaroam_spark.operators.textstats.perplexity_buckets`,
    keeping rows whose per-``perplexity_group_col`` bucket is in
    the list, e.g. ``("head", "middle")``; cut fractions from
    ``perplexity_bucket_fractions``; threshold and buckets are
    mutually exclusive; ``perplexity_bucket_accuracy='approx'``
    switches the cut points to the mergeable sketch — the
    deployment shape when the dominant language is corpus-scale,
    see the operator docstring)
    → dedup (``'exact'`` keep-min-id or
    ``'minhash'`` near-dedup survivors) → n-gram decontamination
    against an eval frame → per-source frequency cap → deterministic
    hash sample → leakage-safe split. Every decision delegates to
    the individually gated operator (dedup.py / sampling.py /
    textstats.py), so the pipeline inherits their determinism
    contracts: membership is a pure function of the input and the
    seeds.

    ``split_test_fraction`` (r13, the end-to-end contract): the kept
    corpus gains a ``split`` column ('train'/'test') assigned by
    :func:`~polaroam_spark.operators.sampling.leakage_safe_split` —
    rows split by their NEAR-DUP COMPONENT representative, so eval
    never shares a near-duplicate with train even when the dedup
    stage ran at a stricter threshold (or not at all). ``split_pairs``
    supplies the pair table; when omitted, ``minhash_lsh_pairs`` runs
    over the kept corpus with ``split_pairs_opts`` (its OWN option
    dict — ``minhash_opts`` belongs to the dedup stage, whose
    ``near_dedup_corpus`` accepts keys like ``keep``/``method`` that
    the pair generator does not). Stats gains
    ``split_train``/``split_test`` rows.

    Cost note: by default the ``stats`` frame is built from one
    count-aggregate per stage over the lazily chained plan, so
    COLLECTING it re-executes each stage's lineage prefix —
    O(stages) scans of cheap counts. ``persist_stages=True`` (r8
    verdict #7) is the pay-once variant: every enabled stage's
    output is persisted MEMORY_AND_DISK before the next stage chains
    on it, so each stage executes exactly once no matter how many
    downstream consumers (the stats union AND the kept output) read
    it — the right trade when stages are expensive (minhash dedup,
    decontamination) or the cluster has memory to spare. The caller
    owns the cache lifetime: call ``.unpersist()`` on ``kept``'s
    lineage or ``spark.catalog.clearCache()`` when done. The KEPT
    output is a lazy plan in both modes — ``persist_stages`` changes
    WHERE it reads from (the per-stage caches), never its rows.
    """
    from pyspark import StorageLevel
    from polaroam_spark.operators.textstats import (
        c4_line_filter,
        gopher_quality_flags,
        quality_features,
        strip_html,
        token_count,
    )

    stages: list[tuple[str, DataFrame]] = []

    def _stage(name: str, frame: DataFrame) -> DataFrame:
        if persist_stages:
            frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        stages.append((name, frame))
        return frame

    cur = _stage("input", docs)

    if strip_html_first:
        cur = _stage(
            "strip_html", cur.withColumn(text_col, strip_html(text_col))
        )
    if line_filter:
        cur = _stage(
            "line_filter",
            c4_line_filter(cur, text_col, **(line_filter_opts or {}))
            .withColumn(text_col, F.col("text_filtered"))
            .drop("text_filtered", "n_lines_before", "n_lines_kept"),
        )
    if min_tokens is not None:
        cur = _stage(
            "min_tokens",
            cur.filter(token_count(text_col) >= int(min_tokens)),
        )
    if max_tokens is not None:
        cur = _stage(
            "max_tokens",
            cur.filter(token_count(text_col) <= int(max_tokens)),
        )
    if gopher:
        flagged = gopher_quality_flags(cur, text_col)
        cur = _stage(
            "gopher",
            flagged.filter(F.col("passes_gopher")).select(*cur.columns),
        )
    if quality_threshold is not None:
        scored = quality_features(cur, text_col)
        cur = _stage(
            "quality",
            scored.filter(
                F.col("quality_score") >= float(quality_threshold)
            ).select(*cur.columns),
        )
    if (badwords is None) != (max_badword_ratio is None):
        raise ValueError(
            "badword stage needs BOTH badwords and "
            "max_badword_ratio (0.0 = the C4 drop-any-hit rule)"
        )
    if badwords is not None:
        from polaroam_spark.operators.textstats import badword_stats

        flagged = badword_stats(
            cur, badwords, text_col=text_col, id_col=id_col
        )
        # ratio NULL (empty text) drops — the conservative read;
        # <= so 0.0 keeps genuinely clean docs and drops any hit
        cur = _stage(
            "badwords",
            flagged.filter(
                F.col("badword_ratio")
                <= float(max_badword_ratio)
            ).select(*cur.columns),
        )
    if min_token_entropy is not None:
        from polaroam_spark.operators.textstats import token_entropy

        ent = token_entropy(cur, text_col)
        # compare on the 6-decimal rounding (the operator's
        # cross-engine float-certification level) so boundary
        # membership is engine-deterministic; NULL entropy (empty
        # text) drops — the conservative no-evidence read
        cur = _stage(
            "token_entropy",
            ent.filter(
                F.round("token_entropy", 6)
                >= float(min_token_entropy)
            ).select(*cur.columns),
        )
    if min_compression_ratio is not None:
        from polaroam_spark.operators.textstats import (
            compression_ratio,
        )

        comp = compression_ratio(
            cur, text_col, level=compression_level
        )
        # a LOW ratio is the red flag (machine repetition deflates
        # to nothing); NULL (empty text) drops
        cur = _stage(
            "compression",
            comp.filter(
                F.col("compression_ratio")
                >= float(min_compression_ratio)
            ).select(*cur.columns),
        )
    if classifier_model is not None:
        from polaroam_spark.operators.quality import (
            score_quality_classifier,
        )

        scored = score_quality_classifier(
            cur,
            classifier_model,
            text_col=text_col,
            label_col=None,
        )
        cur = _stage(
            "classifier",
            scored.filter(
                F.col("quality_prob") >= float(classifier_threshold)
            ).select(*cur.columns),
        )
    if (langid_model is None) != (keep_languages is None):
        raise ValueError(
            "langid stage needs BOTH langid_model and keep_languages"
        )
    if langid_model is not None:
        from polaroam_spark.operators.langid import score_langid

        if not keep_languages:
            raise ValueError("keep_languages must name >= 1 class")
        unknown = sorted(
            set(keep_languages) - set(langid_model["classes"])
        )
        if unknown:
            raise ValueError(
                f"keep_languages not in the model's classes: {unknown}"
            )
        pred = score_langid(
            cur,
            langid_model,
            text_col=text_col,
            prob_col=None,
        )
        cur = _stage(
            "langid",
            pred.filter(
                F.col("language_pred").isin(list(keep_languages))
            ).select(*cur.columns),
        )
    if (
        perplexity_threshold is not None
        and perplexity_keep_buckets is not None
    ):
        raise ValueError(
            "perplexity_threshold and perplexity_keep_buckets are "
            "mutually exclusive — pick the fixed-cut filter or the "
            "CCNet percentile bucketing"
        )
    _ppl_gate = (
        perplexity_threshold is not None
        or perplexity_keep_buckets is not None
    )
    if (perplexity_reference is None) != (not _ppl_gate):
        raise ValueError(
            "perplexity stage needs perplexity_reference AND one "
            "of perplexity_threshold / perplexity_keep_buckets"
        )
    if perplexity_reference is not None:
        from polaroam_spark.operators.textstats import (
            kn_ngram_logprob_vs_reference,
        )

        scored_ppl = kn_ngram_logprob_vs_reference(
            cur,
            perplexity_reference,
            order=int(perplexity_order),
            text_col=text_col,
            id_col=id_col,
            discount=float(perplexity_discount),
        )
        if perplexity_threshold is not None:
            cur = _stage(
                "perplexity",
                scored_ppl.filter(
                    F.col("mean_kn_logprob")
                    >= float(perplexity_threshold)
                ).select(*cur.columns),
            )
        else:
            from polaroam_spark.operators.textstats import (
                perplexity_buckets,
            )

            keep = [str(b) for b in perplexity_keep_buckets]
            unknown = sorted(
                set(keep) - {"head", "middle", "tail"}
            )
            if unknown:
                raise ValueError(
                    "perplexity_keep_buckets must be drawn from "
                    f"head/middle/tail (got {unknown})"
                )
            hf, mf = perplexity_bucket_fractions
            labeled = perplexity_buckets(
                scored_ppl,
                score_col="mean_kn_logprob",
                group_col=perplexity_group_col,
                head_fraction=float(hf),
                middle_fraction=float(mf),
                accuracy=perplexity_bucket_accuracy,
            )
            cur = _stage(
                "perplexity_buckets",
                labeled.filter(
                    F.col("perplexity_bucket").isin(keep)
                ).select(*cur.columns),
            )
    if dedup == "exact":
        from polaroam_spark.operators.dedup import dedup_exact

        cur = _stage(
            "dedup_exact",
            dedup_exact(cur, text_col=text_col, id_col=id_col),
        )
    elif dedup == "minhash":
        from polaroam_spark.operators.dedup import near_dedup_corpus

        cur = _stage(
            "dedup_minhash",
            near_dedup_corpus(
                cur,
                text_col=text_col,
                id_col=id_col,
                **(minhash_opts or {}),
            ),
        )
    elif dedup is not None:
        raise ValueError(
            f"unknown dedup {dedup!r}: use 'exact', 'minhash', or None"
        )
    if decontaminate_against is not None:
        from polaroam_spark.operators.dedup import decontaminate

        cur = _stage(
            "decontaminate",
            decontaminate(
                cur, decontaminate_against, text_col=text_col, id_col=id_col
            ),
        )
    if cap_per_source is not None:
        from polaroam_spark.operators.sampling import cap_per_key

        cur = _stage(
            "cap_per_source",
            cap_per_key(
                cur,
                key=source_col,
                id_col=id_col,
                max_per_key=int(cap_per_source),
                seed=int(cap_seed),
            ),
        )
    if sample_rate is not None:
        from polaroam_spark.operators.sampling import sample_by_hash

        cur = _stage(
            "sample",
            sample_by_hash(
                cur, key=id_col, fraction=float(sample_rate),
                seed=int(sample_seed),
            ),
        )

    if split_test_fraction is not None:
        from polaroam_spark.operators.sampling import (
            leakage_safe_split,
        )

        if split_pairs is None:
            from polaroam_spark.operators.dedup import (
                minhash_lsh_pairs,
            )

            split_pairs = minhash_lsh_pairs(
                cur,
                text_col=text_col,
                id_col=id_col,
                **(split_pairs_opts or {}),
            )
        train, test = leakage_safe_split(
            cur,
            split_pairs,
            id_col=id_col,
            test_fraction=float(split_test_fraction),
            seed=int(split_seed),
        )
        train = _stage("split_train", train)
        test = _stage("split_test", test)
        cur = train.withColumn(
            "split", F.lit("train")
        ).unionByName(test.withColumn("split", F.lit("test")))

    stats = None
    if with_stats:
        stats = reduce(
            lambda a, b: a.unionByName(b),
            [
                d.agg(
                    F.lit(i).alias("stage_idx"),
                    F.lit(name).alias("stage"),
                    F.count("*").cast("bigint").alias("n_docs"),
                )
                for i, (name, d) in enumerate(stages)
            ],
        )
    return cur, stats


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """The DATA CARD aggregate: per-source corpus statistics in ONE
    aggregation pass — ``n_docs, n_null_text, n_chars, n_tokens
    (whitespace), min/max doc tokens, n_distinct_texts`` (exact-dup
    signal: distinct count of the same whitespace-normalized md5 key
    ``dedup_exact`` groups by, so ``n_docs − n_distinct_texts`` is
    exactly the rows that stage would drop). Every column is an
    exact integer — no float that could wobble across engines — so
    the nightly report a corpus publishes alongside its parquet is
    itself oracle-checkable.

    One shuffle on ``source_col`` (map-side combined; the distinct
    count adds the standard partial-distinct expand). Scale-safe at
    any corpus size: output is #sources rows.
    """
    from polaroam_spark.functions.text import tokens
    from polaroam_spark.operators.dedup import normalize_text

    t = F.col(text_col)
    norm_key = F.md5(normalize_text(t))
    tok = F.array_size(tokens(text_col))
    return docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count(t)).alias("n_null_text"),
        F.sum(F.length(t)).cast("long").alias("n_chars"),
        F.sum(tok).cast("long").alias("n_tokens"),
        F.min(tok).cast("long").alias("min_doc_tokens"),
        F.max(tok).cast("long").alias("max_doc_tokens"),
        F.countDistinct(norm_key).alias("n_distinct_texts"),
    )


def domain_report(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    quality_col: "str | None" = None,
    kept_col: "str | None" = None,
    suffix_list: "DataFrame | None" = None,
) -> DataFrame:
    """The HOST-LEVEL curation data card — the table every
    per-domain-cap decision reads (``cap_per_key`` keyed on
    ``registered_domain``, domain blocklists, crawl-mix audits):
    :func:`corpus_report`'s per-source battery re-keyed by the
    REGISTERED DOMAIN of each document's URL, composing
    :func:`~polaroam_spark.operators.textstats.
    attach_registered_domain` (naive last-two-labels by default;
    pass ``suffix_list`` for PSL-accurate site keys) with one
    map-side-combined aggregation.

    Per domain: ``n_docs``, ``n_hosts`` (distinct full hosts — the
    subdomain spread a cap keyed on the domain collapses),
    ``n_null_text``, ``n_chars``, ``n_tokens`` (whitespace),
    ``min_doc_tokens`` / ``max_doc_tokens``, ``n_distinct_texts``
    (the ``dedup_exact`` md5 key — ``n_docs − n_distinct_texts`` is
    the exact-dup volume that domain contributes). Optional columns,
    appended only when requested so the base card stays
    exact-integer and oracle-checkable: ``quality_col`` adds
    ``n_scored`` (finite scores — NULL/NaN excluded, the
    :func:`~polaroam_spark.operators.textstats.winsorize_scores`
    contract) and ``mean_quality``; ``kept_col`` (a boolean, e.g.
    ``curate_corpus`` membership) adds ``n_kept``.

    Documents whose URL is NULL or unparseable group under the NULL
    domain — the unattributable bucket is REPORTED, not silently
    dropped (it is usually the first thing a crawl audit asks
    about). One shuffle on the domain key (#domains output rows);
    the URL parse and token count are per-row JVM expressions on the
    scan side. Scale-safe at any corpus size.
    """
    from polaroam_spark.functions.text import tokens
    from polaroam_spark.operators.dedup import normalize_text
    from polaroam_spark.operators.textstats import (
        attach_registered_domain,
    )

    host = F.lower(
        F.try_parse_url(F.col(url_col), F.lit("HOST"))
    )
    base = attach_registered_domain(
        docs, url_col=url_col, suffix_list=suffix_list
    ).withColumn("_dr_host", host)
    t = F.col(text_col)
    # the dedup_exact canonical key — shared, not re-inlined, so a
    # future normalization change cannot diverge card from dedup
    norm_key = F.md5(normalize_text(t))
    tok = F.array_size(tokens(text_col))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("_dr_host").alias("n_hosts"),
        (F.count(F.lit(1)) - F.count(t)).alias("n_null_text"),
        F.sum(F.length(t)).cast("long").alias("n_chars"),
        F.sum(tok).cast("long").alias("n_tokens"),
        F.min(tok).cast("long").alias("min_doc_tokens"),
        F.max(tok).cast("long").alias("max_doc_tokens"),
        F.countDistinct(norm_key).alias("n_distinct_texts"),
    ]
    if quality_col is not None:
        q = F.col(quality_col).cast("double")
        q = F.when(~F.isnan(q), q)
        aggs += [
            F.count(q).alias("n_scored"),
            F.avg(q).alias("mean_quality"),
        ]
    if kept_col is not None:
        aggs.append(
            F.sum(
                F.when(F.col(kept_col), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept")
        )
    return base.groupBy("registered_domain").agg(*aggs)


def _waterfill(
    avail: dict, share: dict, budget: float
) -> "tuple[dict, set, float]":
    """The pure waterfill kernel behind :func:`mixture_plan`:
    distribute ``budget`` over groups by ``share`` (normalized),
    capping any group that cannot absorb its slice at everything it
    has and redistributing the shortfall to the rest by renormalized
    share until a fixed point (each round caps ≥ 1 group or
    finishes, so ≤ #groups rounds). Returns ``(alloc, capped,
    unmet)`` — property-tested directly (conservation, bounds,
    share-proportionality of the uncapped residual)."""
    capped: "set" = set()
    alloc = {g: 0.0 for g in avail}
    remaining = float(budget)
    while True:
        live = [
            g for g in avail
            if g not in capped and share[g] > 0
        ]
        live_share = sum(share[g] for g in live)
        if not live or live_share <= 0 or remaining <= 0:
            break
        newly = []
        for g in live:
            want = remaining * share[g] / live_share
            if want >= avail[g] - alloc[g] - 1e-9:
                newly.append(g)
        if not newly:
            for g in live:
                alloc[g] += remaining * share[g] / live_share
            remaining = 0.0
            break
        for g in newly:
            take = float(avail[g]) - alloc[g]
            alloc[g] = float(avail[g])
            remaining -= take
            capped.add(g)
    return alloc, capped, max(remaining, 0.0)


def mixture_plan(
    stats: DataFrame,
    token_budget: int,
    targets: dict,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Domain-mixture waterfill: given per-group available token
    counts (``stats`` — e.g. :func:`corpus_report` or
    ``tokenizer_stats(group_by=...)`` output, one row per group) and
    TARGET SHARES, compute the per-group document sampling rates
    that hit ``token_budget`` with the target mix — the planning
    step behind "500 B tokens at 60% web / 30% code / 10% books".

    Semantics (the standard practitioner waterfill, deterministic):
    each group's desired tokens = budget x normalized share; a group
    with less material than desired is CAPPED at everything it has
    (rate 1.0) and its unmet demand redistributes to the uncapped
    groups proportionally to their shares, repeating until no new
    group caps (≤ #groups rounds — each round caps ≥ 1 group or
    stops). Groups absent from ``targets`` get rate 0 (explicitly
    excluded is different from forgotten: they still appear in the
    plan with ``target_share`` 0). If the whole corpus cannot cover
    the budget, every targeted group caps and ``unmet_tokens`` says
    by how much.

    Scale shape: the input is a #groups-row aggregate, so the
    waterfill runs driver-side over a frame that is tiny BY
    CONSTRUCTION (like the PCA eigendecomposition or the BPE merge
    loop — the reduction is distributed, the few-rows solve is not
    worth a cluster round-trip). Returns one row per group:
    ``group, available_tokens, target_share, rate, expected_tokens,
    capped, unmet_tokens`` (unmet is the same value on every row —
    0 when feasible). Rates are DOCUMENT sampling rates: pair with
    deterministic hash sampling per group
    (:func:`~polaroam_spark.operators.sampling.sample_by_hash` with
    the group's rate, or :func:`apply_mixture_plan`), so expected
    tokens = rate x available under doc-length/rate independence —
    the standard doc-level relaxation of a token-exact cut.
    """
    budget = int(token_budget)
    if budget < 0:
        raise ValueError("token_budget must be >= 0")
    if not targets:
        raise ValueError("targets must name at least one group")
    bad = {k: v for k, v in targets.items() if float(v) < 0}
    if bad:
        raise ValueError(f"negative target shares: {bad}")
    total_share = float(sum(float(v) for v in targets.values()))
    if total_share <= 0:
        raise ValueError("target shares must sum to > 0")

    rows = stats.select(
        F.col(group_col).alias("_g"),
        F.col(tokens_col).cast("long").alias("_n"),
    ).collect()
    if len({r._g for r in rows}) != len(rows):
        raise ValueError(
            f"stats must have one row per {group_col} (duplicate "
            "groups found) — aggregate upstream"
        )
    avail = {r._g: max(int(r._n or 0), 0) for r in rows}
    unknown = sorted(
        str(g) for g in targets if g not in avail
    )
    if unknown:
        raise ValueError(
            f"targets name groups absent from stats: {unknown}"
        )

    share = {g: float(targets.get(g, 0.0)) / total_share for g in avail}
    alloc, capped, unmet = _waterfill(avail, share, float(budget))
    spark = stats.sparkSession
    out_rows = [
        (
            g,
            int(avail[g]),
            float(share[g]),
            (alloc[g] / avail[g]) if avail[g] > 0 else 0.0,
            float(alloc[g]),
            g in capped,
            float(unmet),
        )
        for g in sorted(avail, key=lambda x: (x is None, str(x)))
    ]
    # the group field keeps the input column's type (an integer
    # source id must not be forced through a 'string' DDL slot)
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(
                group_col, stats.schema[group_col].dataType, True
            ),
            StructField("available_tokens", LongType(), True),
            StructField("target_share", DoubleType(), True),
            StructField("rate", DoubleType(), True),
            StructField("expected_tokens", DoubleType(), True),
            StructField("capped", BooleanType(), True),
            StructField("unmet_tokens", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out_rows, out_schema)


def apply_mixture_plan(
    docs: DataFrame,
    plan: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 41,
) -> DataFrame:
    """Execute a :func:`mixture_plan`: keep each document with its
    group's rate via the deterministic portable content hash (the
    ``sample_by_hash`` draw — membership is a pure function of
    (id, seed, rate), so the survivor set is reproducible and
    SQL-replayable). Broadcast the #groups plan, one map-side
    filter; documents in groups without a plan row drop (rate 0)."""
    from polaroam_spark.functions.text import portable_hash64

    rates = plan.select(
        F.col(group_col).alias("_g"), F.col("rate").alias("_rate")
    )
    u = (
        portable_hash64(F.col(id_col).cast("string"), seed)
        .cast("double")
        / F.lit(float(1 << 60))
    )
    return (
        docs.join(
            F.broadcast(rates),
            docs[group_col].eqNullSafe(F.col("_g")),
            "left",
        )
        .filter(u < F.coalesce(F.col("_rate"), F.lit(0.0)))
        .drop("_g", "_rate")
    )


def mixture_report(
    sampled: DataFrame,
    plan: DataFrame,
    model: dict | None = None,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The data card for an executed mixture: per plan group, the
    ACHIEVED document/token counts of the sampled corpus against the
    plan's targets — the measurement that shows what the doc-level
    relaxation (rates are document sampling rates; tokens arrive in
    whole documents) actually cost in token-share error.

    ``model`` picks the token currency: ``None`` counts whitespace
    tokens (the planner's default currency via
    :func:`~polaroam_spark.operators.textstats.token_count`); a
    tokenizer model of any family (BPE, unigram, WordPiece) counts
    EXACT tokenizer tokens — the currency a training run is actually
    billed in.

    Returns one row per plan group: ``group, target_share, rate,
    expected_tokens, achieved_docs, achieved_tokens, achieved_share,
    token_error, share_error`` — ``token_error = achieved −
    expected`` (plan units), ``share_error = achieved_share −
    target_share``. Groups planned at rate 0 (or that kept no
    documents) report zero counts rather than vanishing; NULL-text
    documents count toward ``achieved_docs`` but contribute no
    tokens; ``achieved_share`` is NULL when nothing survived at all.

    Shape: ONE aggregation over the sampled corpus (token counting
    is map-side; the groupBy is #groups-keyed), a broadcast join
    against the #groups plan, and a broadcast 1-row total — linear
    in sampled-corpus token volume, no corpus-sized shuffle.
    """
    if model is None:
        from polaroam_spark.operators.textstats import token_count

        counted = sampled.select(
            F.col(group_col).alias("_g"),
            token_count(text_col).alias("_n"),
        )
    else:
        from polaroam_spark.operators.tokenize import _token_count

        counted = _token_count(
            sampled, model, text_col, out_col="_n"
        ).select(F.col(group_col).alias("_g"), "_n")

    achieved = counted.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_docs"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("_toks"),
    )
    total = achieved.agg(
        F.coalesce(F.sum("_toks"), F.lit(0)).alias("_total")
    )
    joined = (
        plan.select(
            group_col, "target_share", "rate", "expected_tokens"
        )
        .join(
            F.broadcast(achieved),
            F.col(group_col).eqNullSafe(F.col("_g")),
            "left",
        )
        .crossJoin(F.broadcast(total))
    )
    a_toks = F.coalesce(F.col("_toks"), F.lit(0)).cast("long")
    a_share = F.when(
        F.col("_total") > 0,
        a_toks.cast("double") / F.col("_total").cast("double"),
    )
    return joined.select(
        group_col,
        "target_share",
        "rate",
        "expected_tokens",
        F.coalesce(F.col("_docs"), F.lit(0))
        .cast("long")
        .alias("achieved_docs"),
        a_toks.alias("achieved_tokens"),
        a_share.alias("achieved_share"),
        (a_toks.cast("double") - F.col("expected_tokens")).alias(
            "token_error"
        ),
        (a_share - F.col("target_share")).alias("share_error"),
    )
