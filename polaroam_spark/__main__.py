"""Command-line entry points — ``python -m polaroam_spark <cmd>``.

The reference ships a typer CLI stub with no commands
(reference cli.py:12-16) and drives everything from batch scripts
(reference get_stops_and_clusters.py). This CLI packages those
driver workflows:

  ingest    vendor parquet/CSV -> canonical localized pings, partitioned
  stops     pings -> stop events + per-event medians
  cluster   medians -> DBSCAN stop locations + medoids
  label     clustered stops -> home/work labels (+ wide export)
  corpus    documents -> deduped/filtered/sampled corpus
  tokenize  documents -> exact token ids or packed training sequences
  quality   train/apply/evaluate the hashed-ngram quality classifier
  diff      two snapshots -> added/removed/changed rows (CDC)
  batch-plan documents -> length-bucketed dynamic-batch plan

Each stage reads/writes parquet so the pipeline is restartable stage
by stage, mirroring the reference's disk-staged batch driver.
"""

from __future__ import annotations

import argparse
import sys

# salt added to --seed for the mixture stage's hash draw so it stays
# independent of the sample/cap stages' draws over the same id column
_MIXTURE_SEED_SALT = 9173


def _spark(args):
    from polaroam_spark import get_spark

    return get_spark(app_name=f"polaroam-{args.cmd}")


def cmd_ingest(args) -> None:
    from polaroam_spark.sources.io import (
        CSV_VENDOR_COLUMNS,
        PARQUET_VENDOR_COLUMNS,
        hash_uid,
        localize_timestamps,
        read_pings_csv,
        read_pings_parquet,
        users_with_min_days,
        write_sorted_partitioned,
    )

    spark = _spark(args)
    if args.format == "csv":
        columns = CSV_VENDOR_COLUMNS if args.vendor_columns else None
        df = read_pings_csv(
            spark, args.input, columns=columns, max_error=args.max_error
        )
    else:
        columns = PARQUET_VENDOR_COLUMNS if args.vendor_columns else None
        df = read_pings_parquet(
            spark, args.input, columns=columns, max_error=args.max_error
        )
    df = localize_timestamps(df, args.tz)
    if args.hash_uid:
        df = hash_uid(df)
    if args.min_days > 0:
        df = users_with_min_days(df, min_days=args.min_days)
    write_sorted_partitioned(df, args.output)


def cmd_stops(args) -> None:
    from polaroam_spark.api import StopDetect

    spark = _spark(args)
    model = StopDetect(
        r1=args.r1,
        min_size=args.min_size,
        min_staying_time=args.min_staying_time,
        max_time_between=args.max_time_between,
    )
    events = model.fit_predict(spark.read.parquet(args.input))
    medians = model.compute_label_medians()
    events.write.mode("overwrite").parquet(f"{args.output}/stop_events")
    medians.write.mode("overwrite").parquet(f"{args.output}/stop_medians")


def cmd_cluster(args) -> None:
    from polaroam_spark.operators.clustering import (
        attach_medoids,
        cluster_stops_dbscan,
        cluster_stops_dbscan_distributed,
    )

    spark = _spark(args)
    cluster = (
        cluster_stops_dbscan_distributed
        if args.distributed
        else cluster_stops_dbscan
    )
    labeled = cluster(
        spark.read.parquet(args.input),
        r2=args.r2,
        min_spacial_resolution=args.min_spacial_resolution,
    )
    attach_medoids(labeled).write.mode("overwrite").parquet(args.output)


def cmd_label(args) -> None:
    from polaroam_spark.operators.homework import (
        detect_home,
        detect_work,
        home_work_wide,
        prepare_labeling,
    )

    spark = _spark(args)
    df = prepare_labeling(spark.read.parquet(args.input))
    df = detect_home(df, total_days=args.total_days)
    df = detect_work(df, total_days=args.total_days)
    df.write.mode("overwrite").parquet(f"{args.output}/labeled")
    home_work_wide(df).write.mode("overwrite").parquet(
        f"{args.output}/home_work_wide"
    )


def cmd_corpus(args) -> None:
    """documents parquet -> deduped + quality-filtered + sampled
    corpus: the LLM-data pipeline as one command (each stage
    optional)."""
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.dedup == "exact":
        from polaroam_spark.operators.dedup import dedup_exact

        df = dedup_exact(df, text_col=args.text_col, id_col=args.id_col)
    elif args.dedup == "minhash":
        from polaroam_spark.operators.dedup import near_dedup_corpus

        df = near_dedup_corpus(
            df,
            text_col=args.text_col,
            id_col=args.id_col,
            jaccard_threshold=args.jaccard_threshold,
        )
    if args.gopher_filter:
        from polaroam_spark.operators.textstats import (
            gopher_quality_flags,
        )

        # reselect the input columns: the output corpus schema must
        # not vary with which filter flags ran
        in_cols = df.columns
        df = gopher_quality_flags(df, text_col=args.text_col).filter(
            "passes_gopher"
        ).select(*in_cols)
    if args.badwords:
        from pyspark.sql import functions as F

        from polaroam_spark.operators.textstats import badword_stats

        in_cols = df.columns
        df = badword_stats(
            df,
            [w for w in args.badwords.split(",") if w],
            text_col=args.text_col,
            id_col=args.id_col,
        ).filter(
            F.col("badword_ratio") <= args.max_badword_ratio
        ).select(*in_cols)
    if args.min_token_entropy is not None:
        from pyspark.sql import functions as F

        from polaroam_spark.operators.textstats import token_entropy

        in_cols = df.columns
        df = token_entropy(df, args.text_col).filter(
            F.round("token_entropy", 6) >= args.min_token_entropy
        ).select(*in_cols)
    if args.min_compression_ratio is not None:
        from pyspark.sql import functions as F

        from polaroam_spark.operators.textstats import (
            compression_ratio,
        )

        in_cols = df.columns
        df = compression_ratio(df, args.text_col).filter(
            F.col("compression_ratio")
            >= args.min_compression_ratio
        ).select(*in_cols)
    if args.classifier_model:
        import json as _json

        from pyspark.sql import functions as F

        from polaroam_spark.operators.quality import (
            score_quality_classifier,
        )
        from polaroam_spark.operators.tokenize import _open_model_file

        with _open_model_file(args.classifier_model, "r", "utf-8") as f:
            model = _json.load(f)
        in_cols = df.columns
        df = score_quality_classifier(
            df, model, text_col=args.text_col, label_col=None
        ).filter(
            F.col("quality_prob") >= args.classifier_threshold
        ).select(*in_cols)
    if args.mixture_targets:
        import json as _json

        from pyspark.sql import functions as F

        from polaroam_spark.operators.curation import (
            apply_mixture_plan,
            mixture_plan,
        )
        from polaroam_spark.operators.textstats import token_count

        targets = _json.loads(args.mixture_targets)
        if args.mixture_budget is None:
            raise SystemExit(
                "corpus: --mixture-budget is required with "
                "--mixture-targets"
            )
        stats = df.groupBy(args.source_col).agg(
            F.sum(token_count(args.text_col)).alias("n_tokens")
        )
        plan = mixture_plan(
            stats,
            args.mixture_budget,
            targets,
            group_col=args.source_col,
        )
        # stage-distinct seed: sample_by_hash below thresholds the
        # SAME portable_hash64 uniform, so sharing args.seed would
        # make the two Bernoulli draws identical (u < min(rate,
        # fraction)) and destroy the planned mixture whenever
        # --sample-fraction <= the smallest group rate
        df = apply_mixture_plan(
            df,
            plan,
            group_col=args.source_col,
            id_col=args.id_col,
            seed=args.seed + _MIXTURE_SEED_SALT,
        )
        if args.mixture_report:
            from polaroam_spark.operators.curation import (
                mixture_report,
            )

            # achieved-vs-target data card for the EXECUTED mixture,
            # in the planner's whitespace-token currency; written
            # before later stages (sample/cap) thin further
            mixture_report(
                df,
                plan,
                group_col=args.source_col,
                text_col=args.text_col,
            ).coalesce(1).write.mode("overwrite").parquet(
                args.mixture_report
            )
    if args.sample_fraction is not None:
        from polaroam_spark.operators.sampling import sample_by_hash

        df = sample_by_hash(
            df, key=args.id_col, fraction=args.sample_fraction,
            seed=args.seed,
        )
    if args.cap_per_source is not None:
        from polaroam_spark.operators.sampling import cap_per_key

        df = cap_per_key(
            df,
            key=args.source_col,
            id_col=args.id_col,
            max_per_key=args.cap_per_source,
            seed=args.seed,
        )
    df.write.mode("overwrite").parquet(args.output)


def _tokenizer_family(name: str):
    """The (load, train, prune, save) functions of a vocab-file
    tokenizer family — unigram (piece/score TSV) or WordPiece (BERT
    vocab.txt)."""
    from polaroam_spark.operators import unigram as u
    from polaroam_spark.operators import wordpiece as w

    return {
        "unigram": (
            u.load_unigram,
            u.train_unigram,
            u.prune_unigram_vocab,
            u.save_unigram,
        ),
        "wordpiece": (
            w.load_wordpiece,
            w.train_wordpiece,
            w.prune_wordpiece_vocab,
            w.save_wordpiece,
        ),
    }[name]


def cmd_tokenize(args) -> None:
    """documents parquet -> exact token ids (mode=encode) or packed
    fixed-length training sequences (mode=pack): the tokenizer stage
    of the LLM-data pipeline as one restartable command. Bring a
    model (--vocab/--merges, GPT-2 layout; --model TSV / vocab.txt
    for --family unigram / wordpiece) or train one in place
    (--train-vocab-size, optionally persisting it for the next
    stage/run). mode=pack is BPE-only: packing counts its separator
    via an atomic special token, which the unigram and WordPiece
    formats do not carry."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.tokenize import (
        _encode,
        load_bpe,
        pack_token_stream,
        save_bpe,
        train_bpe,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.family != "bpe":
        load, train, prune, save = _tokenizer_family(args.family)
        if args.mode != "encode":
            raise SystemExit(
                f"tokenize: --family {args.family} supports --mode "
                "encode only (packing needs an atomic eot special, a "
                "BPE-format feature)"
            )
        if args.model:
            model = load(args.model)
        else:
            model = train(
                df, args.text_col, vocab_size=args.train_vocab_size
            )
        if args.prune_to:
            model = prune(df, model, args.prune_to, args.text_col)
        # persist when the run produced a NEW model (trained here
        # or pruned from a loaded one)
        if args.save_model and (not args.model or args.prune_to):
            save(model, args.save_model)
    elif args.prune_to:
        raise SystemExit(
            "tokenize: --prune-to needs --family unigram or "
            "wordpiece (a BPE merge chain cannot be pruned safely — "
            "later merges depend on earlier ones)"
        )
    elif args.vocab and args.merges:
        model = load_bpe(args.vocab, args.merges)
    else:
        model = train_bpe(
            df, args.text_col, vocab_size=args.train_vocab_size
        )
        if args.save_vocab and args.save_merges:
            save_bpe(model, args.save_vocab, args.save_merges)
    if args.mode == "encode":
        # count from the encoded array — a token-count pass here
        # would re-run the segmenter over every document just to count
        out = _encode(df, model, args.text_col).select(
            args.id_col,
            "token_ids",
            F.array_size("token_ids").cast("long").alias("n_tokens"),
        )
    else:
        out = pack_token_stream(
            df,
            model,
            seq_len=args.seq_len,
            text_col=args.text_col,
            id_col=args.id_col,
            eot=args.eot if args.eot else None,
            num_shards=args.num_shards,
        )
    out.write.mode("overwrite").parquet(args.output)


def cmd_quality(args) -> None:
    """The trained-quality-classifier stage as one restartable
    command: ``--mode train`` fits on a labeled parquet and persists
    the model as JSON (URI paths ride pyarrow.fs like the tokenizer
    models); ``--mode score`` appends probability + label to a
    corpus; ``--mode eval`` writes the one-row
    confusion/precision/recall/AUC artifact for a scored+labeled
    frame."""
    import json as _json

    from polaroam_spark.operators.quality import (
        evaluate_classifier,
        score_quality_classifier,
        train_quality_classifier,
    )
    from polaroam_spark.operators.tokenize import _open_model_file

    if args.mode in ("train", "score") and not args.model:
        raise SystemExit("quality: --model is required for " + args.mode)
    if args.mode in ("score", "eval") and not args.output:
        raise SystemExit("quality: --output is required for " + args.mode)
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.mode == "train":
        model = train_quality_classifier(
            df,
            label_col=args.label_col,
            text_col=args.text_col,
            num_buckets=args.num_buckets,
            n_iter=args.n_iter,
            learning_rate=args.learning_rate,
        )
        with _open_model_file(args.model, "w", "utf-8") as f:
            _json.dump(model, f)
        return
    if args.mode == "score":
        with _open_model_file(args.model, "r", "utf-8") as f:
            model = _json.load(f)
        out = score_quality_classifier(
            df,
            model,
            text_col=args.text_col,
            threshold=args.threshold,
        )
        out.write.mode("overwrite").parquet(args.output)
        return
    evaluate_classifier(
        df, label_col=args.label_col, threshold=args.threshold
    ).write.mode("overwrite").parquet(args.output)


def cmd_langid(args) -> None:
    """The trained multiclass language-ID stage (the CCNet/RedPajama
    langid slot) as one restartable command: ``--mode train`` fits
    the hashed-gram softmax on a labeled parquet and persists the
    model as JSON (URI paths ride pyarrow.fs like the tokenizer
    models); ``--mode score`` appends ``language_pred`` +
    ``language_prob`` to a corpus, optionally filtering to
    ``--keep-languages``."""
    import json as _json

    from polaroam_spark.operators.langid import (
        score_langid,
        train_langid,
    )
    from polaroam_spark.operators.tokenize import _open_model_file
    from pyspark.sql import functions as F

    if not args.model:
        raise SystemExit("langid: --model is required")
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.mode == "train":
        model = train_langid(
            df,
            label_col=args.label_col,
            text_col=args.text_col,
            num_buckets=args.num_buckets,
            n_iter=args.n_iter,
            learning_rate=args.learning_rate,
            feature=args.feature,
        )
        with _open_model_file(args.model, "w", "utf-8") as f:
            _json.dump(model, f)
        return
    if not args.output:
        raise SystemExit("langid: --output is required for score")
    with _open_model_file(args.model, "r", "utf-8") as f:
        model = _json.load(f)
    out = score_langid(df, model, text_col=args.text_col)
    if args.keep_languages:
        keep = [
            s for s in args.keep_languages.split(",") if s
        ]
        unknown = sorted(set(keep) - set(model["classes"]))
        if unknown:
            raise SystemExit(
                f"langid: --keep-languages not in the model's "
                f"classes: {unknown}"
            )
        out = out.filter(F.col("language_pred").isin(keep))
    out.write.mode("overwrite").parquet(args.output)


def cmd_perplexity(args) -> None:
    """The CCNet perplexity-filter stage as one restartable command:
    score every input document's mean Kneser-Ney n-gram log-prob
    (``--order``, default trigram; CCNet deploys order 5)
    under a model counted from ``--reference`` (a clean-corpus
    parquet the scored data cannot move) and write the scored frame
    — optionally keeping only rows at or above ``--threshold``
    (sub-order-token NULL-score docs drop with the filter, the
    curate_corpus contract), OR labeling/keeping CCNet percentile
    buckets: ``--buckets head,middle`` keeps those bands per
    ``--group-col`` group (omit --group-col for corpus-global
    cuts); ``--buckets all`` labels every row without dropping.
    Threshold and buckets are mutually exclusive, matching
    curate_corpus."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    ref = spark.read.parquet(args.reference)
    out = kn_ngram_logprob_vs_reference(
        df,
        ref,
        order=args.order,
        text_col=args.text_col,
        id_col=args.id_col,
        discount=args.discount,
    )
    if args.threshold is not None and args.buckets:
        raise SystemExit(
            "perplexity: --threshold and --buckets are mutually "
            "exclusive"
        )
    if args.threshold is not None:
        out = out.filter(
            F.col("mean_kn_logprob") >= float(args.threshold)
        )
    elif args.buckets:
        from polaroam_spark.operators.textstats import (
            perplexity_buckets,
        )

        keep = [
            b.strip() for b in args.buckets.split(",") if b.strip()
        ]
        out = perplexity_buckets(
            out, group_col=args.group_col or None
        )
        if keep != ["all"]:
            unknown = sorted(
                set(keep) - {"head", "middle", "tail"}
            )
            if unknown:
                raise SystemExit(
                    "perplexity: --buckets must be drawn from "
                    f"head/middle/tail or 'all' (got {unknown})"
                )
            out = out.filter(
                F.col("perplexity_bucket").isin(keep)
            )
    out.write.mode("overwrite").parquet(args.output)


def cmd_objectives(args) -> None:
    """Training-objective data prep as one restartable command over
    a parquet carrying a ``token_ids array<int>`` column (the
    tokenize stage's encode output): ``--objective span`` = T5 span
    corruption (inputs/targets with descending sentinels),
    ``prefix`` = the UL2 prefix-LM split, ``fim`` = the
    fill-in-the-middle transform (PSM/SPM mixture via --fim-rate /
    --spm-rate), ``ul2`` = the UL2 MIXTURE-of-denoisers (per-doc
    R/S/X assignment at --ul2-rates, the denoiser column recording
    the draw). All draw from md5(--seed, doc id), so reruns are
    id-identical."""
    from polaroam_spark.operators.objectives import (
        fim_transform,
        prefix_lm_split,
        span_corruption,
        ul2_mixture,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.objective == "span":
        out = span_corruption(
            df,
            ids_col=args.ids_col,
            id_col=args.id_col,
            noise_density=args.noise_density,
            sentinel_start=args.sentinel_start,
            seed=args.seed,
        )
    elif args.objective == "prefix":
        out = prefix_lm_split(
            df,
            ids_col=args.ids_col,
            id_col=args.id_col,
            seed=args.seed,
        )
    elif args.objective == "ul2":
        names = ("r", "s", "x", "fim")
        shares = [float(x) for x in args.ul2_rates.split(",")]
        if len(shares) not in (3, 4):
            raise SystemExit(
                "objectives: --ul2-rates takes 'r,s,x' or "
                "'r,s,x,fim' comma-separated shares"
            )
        rates = {
            k: v for k, v in zip(names, shares) if v > 0
        }
        out = ul2_mixture(
            df,
            ids_col=args.ids_col,
            id_col=args.id_col,
            rates=rates,
            sentinel_start=args.sentinel_start,
            fim_sentinels=(
                args.sentinel_start + 1,
                args.sentinel_start + 2,
                args.sentinel_start + 3,
            ),
            seed=args.seed,
        )
    else:
        out = fim_transform(
            df,
            ids_col=args.ids_col,
            id_col=args.id_col,
            fim_rate=args.fim_rate,
            spm_rate=args.spm_rate,
            pre_id=args.sentinel_start,
            suf_id=args.sentinel_start + 1,
            mid_id=args.sentinel_start + 2,
            seed=args.seed,
        )
    out.write.mode("overwrite").parquet(args.output)


def _load_tokenizer(args, stage: str) -> dict:
    """The CLI's shared tokenizer dispatch: GPT-2-layout BPE via
    --vocab/--merges, a unigram TSV via --model, a BERT vocab.txt
    via --wordpiece-vocab; anything else fails loudly."""
    if getattr(args, "model", None):
        return _tokenizer_family("unigram")[0](args.model)
    if getattr(args, "wordpiece_vocab", None):
        return _tokenizer_family("wordpiece")[0](args.wordpiece_vocab)
    if getattr(args, "vocab", None) and getattr(args, "merges", None):
        from polaroam_spark.operators.tokenize import load_bpe

        return load_bpe(args.vocab, args.merges)
    raise SystemExit(
        f"{stage}: bring a tokenizer — --vocab/--merges (BPE), "
        "--model (unigram TSV), or --wordpiece-vocab (BERT "
        "vocab.txt)"
    )


def cmd_eval_prep(args) -> None:
    """Few-shot eval deck assembly as one restartable command:
    items parquet (``item_id``, ``input``, ``target`` [, a
    ``choices`` array + gold ``answer`` index]) →
    :func:`build_fewshot_prompts` (deterministic md5 exemplar draw,
    optional pool parquet) → ``--mode loglikelihood``: two-segment
    encode with continuation-only loss mask; ``--mode choices``:
    per-(item, choice) rows with shared prompt prefix, gold flag,
    and the acc_norm byte column — choices deterministically
    SHUFFLED first (position-bias control) unless ``--no-shuffle``.
    The run summary prints item/row counts and the mean shot
    count."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.sft import (
        build_fewshot_prompts,
        encode_eval_choices,
        encode_eval_prompts,
        shuffle_eval_choices,
    )

    spark = _spark(args)
    model = _load_tokenizer(args, "eval-prep")
    items = spark.read.parquet(args.items)
    if args.mode == "choices":
        if args.choices_col not in items.columns:
            raise SystemExit(
                f"eval-prep: --mode choices needs a "
                f"{args.choices_col!r} array column"
            )
        if args.answer_col not in items.columns:
            raise SystemExit(
                f"eval-prep: --mode choices needs a "
                f"{args.answer_col!r} gold-index column"
            )
        if not args.no_shuffle:
            items = shuffle_eval_choices(
                items,
                item_col=args.id_col,
                choices_col=args.choices_col,
                answer_col=args.answer_col,
                seed=args.seed,
            )
    pool = (
        spark.read.parquet(args.exemplars)
        if args.exemplars
        else None
    )
    fs = build_fewshot_prompts(
        items,
        k=args.k,
        id_col=args.id_col,
        input_col=args.input_col,
        target_col=args.target_col,
        exemplars=pool,
        seed=args.seed,
    )
    if args.mode == "choices":
        out = encode_eval_choices(
            fs,
            model,
            choices_col=args.choices_col,
            answer_col=args.answer_col,
        )
    else:
        out = encode_eval_prompts(fs, model)
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    row = written.agg(
        F.count("*").alias("rows"),
        F.countDistinct(args.id_col).alias("items"),
        F.avg("n_shots").alias("shots"),
    ).collect()[0]
    print(
        f"items: {row.items}  rows: {row.rows}  "
        f"mean_shots: {row.shots:.2f}"
    )


def cmd_sft(args) -> None:
    """Chat corpus -> padded SFT training windows as one restartable
    command: read a parquet with a messages
    ``array<struct<role,content>>`` column, validate it
    (:func:`chat_message_expectations` via ``enforce_expectations``
    — a malformed batch quarantines loudly instead of the encoder
    raising mid-job), encode with loss masks under the given
    tokenizer (GPT-2-layout BPE via --vocab/--merges, a unigram
    TSV via --model, or a BERT vocab.txt via --wordpiece-vocab),
    window to --seq-len, and write. ``--packed``
    swaps the per-conversation padded windows for
    :func:`pack_sft_sequences`' ~pad-free packed windows with
    segment/position ids (for loaders that implement
    segment-isolated attention)."""
    from polaroam_spark.operators.sft import (
        chat_message_expectations,
        chunk_sft_sequences,
        encode_chat_sft,
        pack_sft_sequences,
    )
    from polaroam_spark.operators.validation import (
        enforce_expectations,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    model = _load_tokenizer(args, "sft")
    if not args.skip_validation:
        enforce_expectations(
            df,
            chat_message_expectations(args.messages_col),
            min_pass_rate=1.0,
        )
    enc = encode_chat_sft(
        df,
        model,
        messages_col=args.messages_col,
        template=args.template,
    )
    if args.packed:
        out = pack_sft_sequences(
            enc,
            seq_len=args.seq_len,
            pad_id=args.pad_id,
            id_col=args.id_col,
            num_shards=args.num_shards,
            drop_no_loss=not args.keep_no_loss,
        )
    else:
        out = chunk_sft_sequences(
            enc,
            seq_len=args.seq_len,
            pad_id=args.pad_id,
            id_col=args.id_col,
            drop_no_loss=not args.keep_no_loss,
        )
    out.write.mode("overwrite").parquet(args.output)


def cmd_diff(args) -> None:
    """Keyed snapshot diff as a restartable stage: two parquet
    snapshots in, the added/removed/changed rows out (the CDC
    artifact downstream incremental stages consume); per-status
    counts printed as the run summary."""
    from pyspark.sql import functions as F

    from polaroam_spark.sources.io import snapshot_diff

    spark = _spark(args)
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    out = snapshot_diff(
        old,
        new,
        key_cols=args.key.split(","),
        compare_cols=(
            args.compare.split(",") if args.compare else None
        ),
        include_unchanged=args.include_unchanged,
    )
    out.write.mode("overwrite").parquet(args.output)
    for r in (
        spark.read.parquet(args.output)
        .groupBy("diff_status")
        .agg(F.count("*").alias("n"))
        .orderBy("diff_status")
        .collect()
    ):
        print(f"{r.diff_status}: {r.n}")


def cmd_domain_report(args) -> None:
    """Host-level data card stage: documents with a URL column in,
    the per-registered-domain report out (the per-domain-cap /
    blocklist input); the top domains by doc count print as the run
    summary. ``--suffix-file`` (one lowercase public suffix per
    line) switches the naive last-two-labels rule to PSL-accurate
    site keys."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.curation import domain_report

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    psl = None
    if args.suffix_file:
        import pathlib

        lines = [
            ln.strip().lower()
            for ln in pathlib.Path(args.suffix_file)
            .read_text()
            .splitlines()
        ]
        entries = [
            (ln,)
            for ln in lines
            if ln and not ln.startswith("//")
        ]
        if not entries:
            raise SystemExit(
                f"--suffix-file {args.suffix_file} has no entries"
            )
        # attach_registered_domain does not interpret PSL
        # wildcard/exception syntax — a raw public_suffix_list.dat
        # must be pre-expanded, not silently ingested as literal
        # never-matching suffixes
        rules = [e for (e,) in entries if "*" in e or "!" in e]
        if rules:
            raise SystemExit(
                f"--suffix-file contains PSL wildcard/exception "
                f"rules ({rules[:3]}...): pre-expand them into "
                "plain suffixes first"
            )
        psl = spark.createDataFrame(entries, "suffix string")
    rep = domain_report(
        docs,
        url_col=args.url_col,
        text_col=args.text_col,
        quality_col=args.quality_col,
        kept_col=args.kept_col,
        suffix_list=psl,
    )
    rep.write.mode("overwrite").parquet(args.output)
    for r in (
        spark.read.parquet(args.output)
        .orderBy(F.col("n_docs").desc(), "registered_domain")
        .limit(int(args.top))
        .collect()
    ):
        print(
            f"{r.registered_domain}: docs={r.n_docs} "
            f"hosts={r.n_hosts} tokens={r.n_tokens}"
        )


def cmd_memorization_scan(args) -> None:
    """Verbatim-memorization stage: a corpus and a probe set
    (generated samples / eval completions) in, the per-probe overlap
    report out; the memorized/clean/too-short tally prints as the
    run summary — the number a release review reads first."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.dedup import memorization_scan

    spark = _spark(args)
    out = memorization_scan(
        spark.read.parquet(args.corpus),
        spark.read.parquet(args.probes),
        n=args.n,
        text_col=args.text_col,
        probe_text_col=args.probe_text_col,
        max_match_docs=args.max_match_docs,
    )
    out.write.mode("overwrite").parquet(args.output)
    row = (
        spark.read.parquet(args.output)
        .agg(
            F.count("*").alias("n_probes"),
            F.sum(F.when(F.col("memorized"), 1).otherwise(0)).alias(
                "n_memorized"
            ),
            F.sum(F.when(F.col("too_short"), 1).otherwise(0)).alias(
                "n_too_short"
            ),
        )
        .collect()[0]
    )
    print(
        f"probes: {row.n_probes}  memorized: {row.n_memorized}  "
        f"too_short: {row.n_too_short}"
    )


def cmd_batch_plan(args) -> None:
    """Length-bucketed dynamic-batching stage: documents (or any
    frame with a token-length column) in, the per-row
    padded_len/batch_id plan out, plus the one-row padding card
    printed — the number the bucketing exists to drive down."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.chunking import (
        batch_padding_stats,
        length_bucketed_batches,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.n_tokens_col not in df.columns:
        from polaroam_spark.operators.textstats import token_count

        df = df.withColumn(
            args.n_tokens_col, token_count(args.text_col)
        )
    df = df.filter(F.col(args.n_tokens_col) >= 1)
    plan = length_bucketed_batches(
        df,
        batch_tokens=args.batch_tokens,
        id_cols=tuple(args.id_cols.split(",")),
        n_tokens_col=args.n_tokens_col,
        min_bucket=args.min_bucket,
        shards_per_bucket=args.shards_per_bucket,
    )
    plan.write.mode("overwrite").parquet(args.output)
    stats = batch_padding_stats(
        spark.read.parquet(args.output),
        n_tokens_col=args.n_tokens_col,
    ).collect()[0]
    print(
        f"batches={stats.n_batches} seqs={stats.n_seqs} "
        f"tokens={stats.total_tokens} "
        f"capacity={stats.padded_capacity} "
        f"padding_frac={stats.padding_frac}"
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="polaroam_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="vendor data -> localized pings")
    pi.add_argument("--input", required=True)
    pi.add_argument("--output", required=True)
    pi.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    pi.add_argument("--vendor-columns", action="store_true")
    pi.add_argument("--tz", default="UTC")
    pi.add_argument("--max-error", type=float, default=20.0)
    pi.add_argument("--hash-uid", action="store_true")
    pi.add_argument("--min-days", type=int, default=0)
    pi.set_defaults(fn=cmd_ingest)

    ps = sub.add_parser("stops", help="pings -> stop events + medians")
    ps.add_argument("--input", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--r1", type=float, default=10.0)
    ps.add_argument("--min-size", type=int, default=2)
    ps.add_argument("--min-staying-time", type=int, default=300)
    ps.add_argument("--max-time-between", type=int, default=86400)
    ps.set_defaults(fn=cmd_stops)

    pc = sub.add_parser("cluster", help="medians -> stop locations")
    pc.add_argument("--input", required=True)
    pc.add_argument("--output", required=True)
    pc.add_argument("--r2", type=float, default=10.0)
    pc.add_argument("--min-spacial-resolution", type=float, default=0.0)
    pc.add_argument("--distributed", action="store_true")
    pc.set_defaults(fn=cmd_cluster)

    pl = sub.add_parser("label", help="clustered stops -> home/work")
    pl.add_argument("--input", required=True)
    pl.add_argument("--output", required=True)
    pl.add_argument("--total-days", type=int, default=30)
    pl.set_defaults(fn=cmd_label)

    pk = sub.add_parser(
        "corpus", help="documents -> deduped/filtered/sampled corpus"
    )
    pk.add_argument("--input", required=True)
    pk.add_argument("--output", required=True)
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--source-col", default="source")
    pk.add_argument(
        "--dedup", choices=["none", "exact", "minhash"], default="none"
    )
    pk.add_argument("--jaccard-threshold", type=float, default=0.8)
    pk.add_argument("--gopher-filter", action="store_true")
    pk.add_argument(
        "--badwords", default=None,
        help="comma-separated blocklist; pages over "
        "--max-badword-ratio drop (C4 page rule at the 0.0 default)",
    )
    pk.add_argument(
        "--max-badword-ratio", type=float, default=0.0
    )
    pk.add_argument(
        "--min-token-entropy", type=float, default=None,
        help="drop low-entropy (keyword-stuffed) pages",
    )
    pk.add_argument(
        "--min-compression-ratio", type=float, default=None,
        help="drop pages that zlib-deflate below this ratio "
        "(long-range repetition)",
    )
    pk.add_argument(
        "--classifier-model",
        default=None,
        help="quality-classifier model JSON (from `quality --mode "
        "train`); keeps rows scoring >= --classifier-threshold",
    )
    pk.add_argument("--classifier-threshold", type=float, default=0.5)
    pk.add_argument(
        "--mixture-targets",
        default=None,
        help='JSON dict of target shares per source, e.g. '
        '\'{"web": 0.6, "code": 0.4}\'; groups not named drop',
    )
    pk.add_argument(
        "--mixture-budget",
        type=int,
        default=None,
        help="token budget the mixture waterfill plans against",
    )
    pk.add_argument(
        "--mixture-report",
        default=None,
        help="also write the achieved-vs-target data card "
        "(mixture_report parquet) for the executed mixture",
    )
    pk.add_argument("--sample-fraction", type=float, default=None)
    pk.add_argument("--cap-per-source", type=int, default=None)
    pk.add_argument("--seed", type=int, default=17)
    pk.set_defaults(fn=cmd_corpus)

    pt = sub.add_parser(
        "tokenize",
        help="documents -> exact token ids or packed sequences",
    )
    pt.add_argument("--input", required=True)
    pt.add_argument("--output", required=True)
    pt.add_argument("--text-col", default="text")
    pt.add_argument("--id-col", default="doc_id")
    pt.add_argument(
        "--mode", choices=["encode", "pack"], default="encode"
    )
    pt.add_argument(
        "--family", choices=["bpe", "unigram", "wordpiece"],
        default="bpe"
    )
    pt.add_argument("--vocab", default=None, help="vocab.json to load")
    pt.add_argument("--merges", default=None, help="merges.txt to load")
    pt.add_argument(
        "--model", default=None,
        help="unigram piece/score TSV or wordpiece vocab.txt to "
        "load (--family unigram/wordpiece)",
    )
    pt.add_argument(
        "--save-model", default=None,
        help="persist a freshly trained unigram (TSV) or "
        "wordpiece (vocab.txt) model",
    )
    pt.add_argument("--train-vocab-size", type=int, default=4096)
    pt.add_argument(
        "--prune-to", type=int, default=None,
        help="unigram/wordpiece: prune the (loaded or trained) "
        "model to this vocab size by usage over --input before "
        "encoding; --save-model persists the pruned model",
    )
    pt.add_argument("--save-vocab", default=None)
    pt.add_argument("--save-merges", default=None)
    pt.add_argument("--seq-len", type=int, default=2048)
    pt.add_argument("--eot", default="<|endoftext|>")
    pt.add_argument("--num-shards", type=int, default=256)
    pt.set_defaults(fn=cmd_tokenize)

    pq = sub.add_parser(
        "quality",
        help="train/apply/evaluate the hashed-ngram quality classifier",
    )
    pq.add_argument("--input", required=True)
    pq.add_argument(
        "--mode", choices=["train", "score", "eval"], default="score"
    )
    pq.add_argument(
        "--model",
        default=None,
        help="model JSON path (written by train, read by score)",
    )
    pq.add_argument("--output", default=None)
    pq.add_argument("--text-col", default="text")
    pq.add_argument("--label-col", default="label")
    pq.add_argument("--threshold", type=float, default=0.5)
    pq.add_argument("--num-buckets", type=int, default=4096)
    pq.add_argument("--n-iter", type=int, default=30)
    pq.add_argument("--learning-rate", type=float, default=5.0)
    pq.set_defaults(fn=cmd_quality)

    pg = sub.add_parser(
        "langid",
        help="trained multiclass language ID: train / score+filter",
    )
    pg.add_argument("--input", required=True)
    pg.add_argument(
        "--mode", choices=["train", "score"], default="score"
    )
    pg.add_argument(
        "--model", required=True,
        help="model JSON path (written by train, read by score)",
    )
    pg.add_argument("--output", default=None)
    pg.add_argument("--text-col", default="text")
    pg.add_argument("--label-col", default="language")
    pg.add_argument(
        "--keep-languages", default=None,
        help="comma-separated classes to keep after scoring",
    )
    pg.add_argument("--num-buckets", type=int, default=4096)
    pg.add_argument("--n-iter", type=int, default=30)
    pg.add_argument("--learning-rate", type=float, default=5.0)
    pg.add_argument(
        "--feature", choices=["word", "char"], default="word",
        help="train-mode feature stream: word unigram+bigrams "
        "(DSIR) or char 3-5-grams (robust on no-whitespace text); "
        "score mode follows the model",
    )
    pg.set_defaults(fn=cmd_langid)

    pp = sub.add_parser(
        "perplexity",
        help="KN n-gram reference-LM scoring + optional filter",
    )
    pp.add_argument("--input", required=True)
    pp.add_argument(
        "--reference", required=True,
        help="clean-corpus parquet the model counts from",
    )
    pp.add_argument("--output", required=True)
    pp.add_argument("--text-col", default="text")
    pp.add_argument("--id-col", default="doc_id")
    pp.add_argument("--discount", type=float, default=0.75)
    pp.add_argument(
        "--order", type=int, default=3,
        help="n-gram order (CCNet deploys 5; default 3)",
    )
    pp.add_argument(
        "--threshold", type=float, default=None,
        help="keep rows with mean_kn_logprob >= this",
    )
    pp.add_argument(
        "--buckets", default=None,
        help="CCNet percentile bands to keep (comma list of "
        "head/middle/tail, or 'all' to label without dropping); "
        "mutually exclusive with --threshold",
    )
    pp.add_argument(
        "--group-col", default=None,
        help="group column for the bucket cut points (CCNet: the "
        "language column); omit for corpus-global cuts",
    )
    pp.set_defaults(fn=cmd_perplexity)

    ob = sub.add_parser(
        "objectives",
        help="span-corruption / prefix-LM / FIM / UL2-mixture "
        "objective prep",
    )
    ob.add_argument("--input", required=True)
    ob.add_argument("--output", required=True)
    ob.add_argument("--ids-col", default="token_ids")
    ob.add_argument("--id-col", default="doc_id")
    ob.add_argument(
        "--objective", choices=["span", "prefix", "fim", "ul2"],
        default="span",
    )
    ob.add_argument(
        "--ul2-rates", default="0.5,0.25,0.25",
        help="comma-separated r,s,x[,fim] mixture shares (sum 1); "
        "ul2 places FIM sentinels at --sentinel-start +1/+2/+3 "
        "(span sentinels descend FROM --sentinel-start)",
    )
    ob.add_argument("--noise-density", type=float, default=0.15)
    ob.add_argument(
        "--sentinel-start", type=int, default=100_000,
        help="first sentinel id (span: descending from here; fim: "
        "PRE/SUF/MID = here, +1, +2) — place above the vocabulary",
    )
    ob.add_argument("--fim-rate", type=float, default=0.9)
    ob.add_argument("--spm-rate", type=float, default=0.5)
    ob.add_argument("--seed", type=int, default=41)
    ob.set_defaults(fn=cmd_objectives)

    pf = sub.add_parser(
        "sft",
        help="chat corpus -> padded loss-masked training windows",
    )
    pf.add_argument("--input", required=True)
    pf.add_argument("--output", required=True)
    pf.add_argument("--messages-col", default="messages")
    pf.add_argument("--id-col", default="doc_id")
    pf.add_argument(
        "--template", choices=["chatml", "plain"], default="chatml"
    )
    pf.add_argument("--vocab", default=None, help="BPE vocab.json")
    pf.add_argument("--merges", default=None, help="BPE merges.txt")
    pf.add_argument(
        "--model", default=None, help="unigram piece/score TSV"
    )
    pf.add_argument(
        "--wordpiece-vocab", default=None,
        help="WordPiece/BERT vocab.txt",
    )
    pf.add_argument("--seq-len", type=int, default=2048)
    pf.add_argument("--pad-id", type=int, default=0)
    pf.add_argument(
        "--keep-no-loss", action="store_true",
        help="keep windows whose loss mask is all zero",
    )
    pf.add_argument(
        "--skip-validation", action="store_true",
        help="skip the chat_message_expectations batch gate",
    )
    pf.add_argument(
        "--packed", action="store_true",
        help="pack conversations into ~pad-free windows with "
        "segment/position ids (pack_sft_sequences) instead of "
        "padding per conversation",
    )
    pf.add_argument(
        "--num-shards", type=int, default=256,
        help="packing shards (--packed): corpus tokens / shards "
        "must fit a worker",
    )
    pf.set_defaults(fn=cmd_sft)

    pd_ = sub.add_parser(
        "diff",
        help="two parquet snapshots -> added/removed/changed rows",
    )
    pd_.add_argument("--old", required=True)
    pd_.add_argument("--new", required=True)
    pd_.add_argument("--output", required=True)
    pd_.add_argument(
        "--key", required=True,
        help="comma-separated key column(s)",
    )
    pd_.add_argument(
        "--compare", default=None,
        help="comma-separated columns to compare "
        "(default: all shared non-key columns)",
    )
    pd_.add_argument("--include-unchanged", action="store_true")
    pd_.set_defaults(fn=cmd_diff)

    pb = sub.add_parser(
        "batch-plan",
        help="documents -> length-bucketed dynamic-batch plan",
    )
    pb.add_argument("--input", required=True)
    pb.add_argument("--output", required=True)
    pb.add_argument("--batch-tokens", type=int, default=16384)
    pb.add_argument("--id-cols", default="doc_id")
    pb.add_argument("--n-tokens-col", default="n_tokens")
    pb.add_argument(
        "--text-col", default="text",
        help="tokenized to build --n-tokens-col when absent",
    )
    pb.add_argument("--min-bucket", type=int, default=16)
    pb.add_argument("--shards-per-bucket", type=int, default=1)
    pb.set_defaults(fn=cmd_batch_plan)

    pdr = sub.add_parser(
        "domain-report",
        help="documents + URL column -> per-domain data card",
    )
    pdr.add_argument("--input", required=True)
    pdr.add_argument("--output", required=True)
    pdr.add_argument("--url-col", default="url")
    pdr.add_argument("--text-col", default="text")
    pdr.add_argument("--quality-col", default=None)
    pdr.add_argument("--kept-col", default=None)
    pdr.add_argument(
        "--suffix-file", default=None,
        help="public-suffix list, one lowercase suffix per line "
        "(default: naive last-two-labels domains)",
    )
    pdr.add_argument("--top", type=int, default=20)
    pdr.set_defaults(fn=cmd_domain_report)

    pe = sub.add_parser(
        "eval-prep",
        help="eval items -> few-shot loglikelihood or choices deck",
    )
    pe.add_argument("--items", required=True)
    pe.add_argument("--output", required=True)
    pe.add_argument(
        "--mode", choices=["loglikelihood", "choices"],
        default="loglikelihood",
    )
    pe.add_argument("--k", type=int, default=5)
    pe.add_argument("--seed", type=int, default=17)
    pe.add_argument(
        "--exemplars", default=None,
        help="exemplar pool parquet (default: the items themselves)",
    )
    pe.add_argument("--id-col", default="item_id")
    pe.add_argument("--input-col", default="input")
    pe.add_argument("--target-col", default="target")
    pe.add_argument("--choices-col", default="choices")
    pe.add_argument("--answer-col", default="answer")
    pe.add_argument(
        "--no-shuffle", action="store_true",
        help="skip the deterministic choice permutation",
    )
    pe.add_argument("--vocab", default=None)
    pe.add_argument("--merges", default=None)
    pe.add_argument("--model", default=None)
    pe.add_argument("--wordpiece-vocab", default=None)
    pe.set_defaults(fn=cmd_eval_prep)

    pm = sub.add_parser(
        "memorization-scan",
        help="corpus + probe texts -> verbatim n-gram overlap report",
    )
    pm.add_argument("--corpus", required=True)
    pm.add_argument("--probes", required=True)
    pm.add_argument("--output", required=True)
    pm.add_argument("--n", type=int, default=50)
    pm.add_argument("--text-col", default="text")
    pm.add_argument("--probe-text-col", default="text")
    pm.add_argument("--max-match-docs", type=int, default=20)
    pm.set_defaults(fn=cmd_memorization_scan)

    return p



def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
