"""Explain-plan regression tests: pin the scale-critical plan shapes
of the corpus operators (what makes them 100 TB-viable), so a future
refactor that silently introduces an extra shuffle or drops a
broadcast fails loudly."""

import re

import pyspark.sql.functions as F
import pytest


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def _n_hash_exchanges(plan):
    # formatted mode lists a node ("(5) Exchange") and its
    # "Arguments: hashpartitioning(...)" on separate lines — counting
    # the compact form "Exchange hashpartitioning" silently matches
    # nothing and made these bounds vacuous; count the detail lines
    return len(re.findall(r"Arguments: hashpartitioning", plan))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma delta doc{i} epsilon zeta") for i in
            range(50)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_broadcasts_eval_grams(spark, docs):
    from polaroam_spark.operators.dedup import ngram_overlap_counts

    ev = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    plan = _plan(ngram_overlap_counts(corpus, ev, n=3))
    assert "BroadcastExchange" in plan, plan
    # corpus text must never shuffle: the only hash exchanges are the
    # eval-side distinct and the per-doc overlap count
    assert _n_hash_exchanges(plan) <= 2, plan


def test_dedup_lines_broadcasts_boilerplate(spark, docs):
    from polaroam_spark.operators.dedup import dedup_lines

    plan = _plan(dedup_lines(docs))
    assert "BroadcastExchange" in plan, plan
    # hash exchanges: doc-freq distinct+count on line hashes, per-doc
    # reassembly, and the final join back to docs — never more
    assert _n_hash_exchanges(plan) <= 4, plan


def test_deterministic_shuffle_is_range_partitioned(spark, docs):
    from polaroam_spark.operators.sampling import deterministic_shuffle

    plan = _plan(deterministic_shuffle(docs, "doc_id", num_shards=4))
    assert "rangepartitioning" in plan.lower(), plan
    # the sharded writer path must not add a total-order sort: no
    # global single-partition exchange
    assert "SinglePartition" not in plan, plan


def test_materialize_packs_single_text_shuffle(spark, docs):
    from polaroam_spark.operators.chunking import (
        materialize_packs,
        packing_plan,
    )

    chunks = docs.select(
        "doc_id",
        F.lit(0).cast("long").alias("chunk_id"),
        F.col("text").alias("chunk_text"),
        F.lit(7).cast("long").alias("n_tokens"),
    )
    planned = packing_plan(chunks, budget_tokens=32)
    plan = _plan(materialize_packs(planned))
    # pack text moves once: the groupBy(pack_id) exchange (plus the
    # window's shard exchange upstream of it)
    assert _n_hash_exchanges(plan) <= 2, plan


def test_corpus_vocabulary_take_ordered(spark, docs):
    from polaroam_spark.operators.chunking import corpus_vocabulary

    plan = _plan(corpus_vocabulary(docs, top_k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_tfidf_no_cartesian_blowup(spark, docs):
    from polaroam_spark.operators.chunking import tfidf_top_terms

    plan = _plan(tfidf_top_terms(docs, top_k=3))
    # the corpus-size scalar joins via broadcast nested loop over ONE
    # row; no full CartesianProduct may appear
    assert "CartesianProduct" not in plan, plan


def test_homework_labeling_broadcasts_label_joins(spark):
    """M5-M7 path (prepare_labeling -> detect_home -> detect_work):
    per-cluster label frames are tiny aggregates and MUST broadcast
    back onto the stops; the wide stop frame itself must never hit a
    single-partition exchange or a cartesian product."""
    from polaroam_spark.operators.homework import (
        detect_home,
        detect_work,
        prepare_labeling,
    )

    stops = spark.createDataFrame(
        [("u1", 0, 1700006400 + i * 3600, 1700006400 + i * 3600 + 1800)
         for i in range(48)],
        "uid string, stop_locations long, "
        "start_timestamp long, end_timestamp long",
    )
    plan = _plan(detect_work(detect_home(prepare_labeling(stops))))
    # one broadcast label application per pass (home + work), plus the
    # broadcast stat joins inside filter_clusters
    assert plan.count("BroadcastHashJoin LeftOuter") >= 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_probe_never_shuffles_probed_side(spark, docs):
    from polaroam_spark.operators.sketches import build_bloom, probe_bloom

    members = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").cast("string").alias("k")
    )
    bloom = build_bloom(members, "k", 4096, 3)
    plan = _plan(
        probe_bloom(
            docs.select(F.col("doc_id").cast("string").alias("k")),
            "k",
            bloom,
            4096,
            3,
        )
    )
    # one broadcast per hash, and the probed side never shuffles:
    # the only hash exchanges are inside the (tiny) bloom builds
    # (formatted plans list each node twice — tree and detail — so
    # count the numbered detail entries)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_heavy_hitters_shuffles_only_summaries(spark, docs):
    from polaroam_spark.operators.sketches import heavy_hitters

    plan = _plan(heavy_hitters(docs, "doc_id", capacity=8))
    # one hash exchange total: the counter-sum merge of the
    # per-partition summaries (<= capacity rows each) — the raw item
    # stream itself must never shuffle (in formatted mode the
    # partitioning lives on a separate "Arguments:" line, so count
    # those rather than "Exchange hashpartitioning" tree text)
    assert (
        len(re.findall(r"Arguments: hashpartitioning", plan)) == 1
    ), plan
    # and that one exchange sits ABOVE MapInPandas in the plan tree:
    # it shuffles summaries, not input rows
    tree = plan.split("\n\n")[0].splitlines()
    ex_idx = next(i for i, l in enumerate(tree) if "Exchange" in l)
    py_idx = next(i for i, l in enumerate(tree) if "MapInPandas" in l)
    assert ex_idx < py_idx, plan
    # partial (map-side) combine before the shuffle
    assert "partial_sum" in plan, plan


def test_gopher_flags_is_shuffle_free(spark, docs):
    from polaroam_spark.operators.textstats import gopher_quality_flags

    plan = _plan(gopher_quality_flags(docs))
    # pure map-side expressions: no exchange of any kind
    assert "Exchange" not in plan, plan


def test_rollup_is_single_pass(spark, docs):
    plan = _plan(
        docs.withColumn("k", F.col("doc_id") % 3)
        .withColumn("j", F.col("doc_id") % 2)
        .rollup("k", "j")
        .agg(F.count("*"))
    )
    # one Expand feeding one partial+final aggregate pair: exactly one
    # shuffle, never a scan per grouping level. (_n_hash_exchanges
    # keys on the compact form "Exchange hashpartitioning"; formatted
    # mode lists the node and its Arguments on separate lines, so
    # count Exchange nodes directly.)
    assert "Expand" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_cap_per_key_windows_narrow_projection(spark, docs):
    from polaroam_spark.operators.sampling import cap_per_key

    df = docs.withColumn("key", F.col("doc_id") % 3)
    plan = _plan(cap_per_key(df, key="key", id_col="doc_id", max_per_key=2))
    # the ranking window must sort the projected (key, id, hash)
    # frame, not whole documents: no 'text' column below the Window
    win = plan.split("Window", 1)[1] if "Window" in plan else plan
    m = [ln for ln in win.splitlines() if "Sort " in ln or "sort" in ln]
    assert "Window" in plan, plan
    assert not any("text" in ln for ln in m), plan


def test_rolling_zscore_single_exchange(spark):
    from polaroam_spark.operators.timeseries import rolling_zscore

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(30)],
        "k string, ts long, v double",
    )
    plan = _plan(rolling_zscore(df, "k", "ts", "v", window=10))
    # the lag-based duplicate collapse and the stats window share the
    # key partitioning: exactly one hash exchange end to end (counted
    # on the formatted-mode detail lines), and the bounded ROWS frame
    # must never fall back to a global sort
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_ewma_fold_single_exchange_no_python(spark):
    from polaroam_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(30)],
        "k string, ts long, v double",
    )
    plan = _plan(ewma(df, "k", "ts", "v", alpha=0.25, strategy="fold"))
    # collapse + collect_list share the key partitioning; the fold is
    # a Catalyst expression, not a Python UDF stage
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_ewma_blocked_single_exchange(spark):
    """ADVICE r7: ewma_blocked's single-shuffle/O(L) claim rests on
    the planner eliding the explicit repartition(_k) as redundant
    with _collapsed_obs's window exchange — previously verified only
    by hand in BASELINE.md; pin it so a planner change that silently
    reintroduces a second full shuffle fails loudly."""
    from polaroam_spark.operators.timeseries import ewma_blocked

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(30)],
        "k string, ts long, v double",
    )
    plan = _plan(ewma_blocked(df, "k", "ts", "v", alpha=0.25))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "MapInPandas" in plan, plan


def test_ewma_default_dispatches_to_blocked(spark):
    """The default strategy is the linear blocked scan (round-7
    verdict item #8): the plan must be the MapInPandas shape, not
    the O(L^2) fold."""
    from polaroam_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(30)],
        "k string, ts long, v double",
    )
    plan = _plan(ewma(df, "k", "ts", "v", alpha=0.25))
    assert "MapInPandas" in plan, plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_triangle_count_no_cartesian(spark):
    from polaroam_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(i, (i * 7 + 3) % 50) for i in range(200)], "u int, v int"
    )
    plan = _plan(triangle_count(df))
    # the wedge join and the closing-edge semi-join are hash
    # equi-joins on node keys — a rank-comparison pushed into the
    # join condition as a non-equi predicate would cartesian-explode
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semantic_pairs_equi_join_on_cluster(spark):
    from polaroam_spark.operators.dedup import semantic_pairs

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id int, embedding array<double>",
    )
    asg = spark.createDataFrame(
        [(i, i % 4) for i in range(20)], "vec_id int, centroid_id int"
    )
    plan = _plan(semantic_pairs(emb, index=(None, asg)))
    # within-cluster candidates come from an equi-join on
    # centroid_id — never an all-pairs cross join
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pq_topk_broadcasts_lut_no_corpus_shuffle(spark):
    """PQ ADC scan: the LUT side is broadcast and the codes table is
    scanned map-side — the only hashpartitioning exchange allowed is
    the final per-query top-k window over the bounded candidate set."""
    from polaroam_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(4)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    books = train_pq_codebooks(emb, num_subspaces=2, codes_per_subspace=4)
    codes = pq_encode(emb, books)
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(pq_topk(codes, q, books, k=5))
    assert "BroadcastExchange" in plan, plan
    # codes themselves were built via groupBy (2 exchanges upstream);
    # the SCORING adds exactly one more for the rank window.
    # Forbid a raw cartesian product outright, and require every
    # nested-loop join in the tree (the LUT cross join plus the
    # upstream broadcast-scalar crosses) to be a broadcast BuildRight
    # — the pattern crossJoin(broadcast(...)) emits. The old
    # `A not in plan or B not in plan` form only fired when BOTH
    # appeared, i.e. never for the plan it meant to forbid.
    assert "CartesianProduct" not in plan, plan
    tree_bnlj = re.findall(r"BroadcastNestedLoopJoin[^\(\n]*\(\d+\)", plan)
    assert tree_bnlj, plan  # the broadcast LUT join must exist
    for node in tree_bnlj:
        assert "BuildRight" in node, (node, plan)


def test_filter_by_domain_broadcasts_list(spark):
    from polaroam_spark.operators.textstats import filter_by_domain

    docs = spark.createDataFrame(
        [(i, f"https://site{i}.example.com/x") for i in range(20)],
        "doc_id long, url string",
    )
    block = spark.createDataFrame([("example.org",)], "domain string")
    plan = _plan(filter_by_domain(docs, block))
    # list side broadcast; the only hash exchange allowed is the
    # (tiny) list dedupe inside the broadcast build — the probed
    # corpus reaches the anti join straight from its scan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("Arguments: hashpartitioning") <= 1, plan
    assert re.search(
        r"BroadcastHashJoin LeftAnti", plan
    ), plan


def test_attach_registered_domain_probe_never_shuffles(spark):
    """The PSL longest-match must be a chain of per-depth BROADCAST
    joins: the (100 TB-shaped) probe side reads straight from its
    scan into every join — the only hash exchanges allowed are the
    tiny suffix-list dedups inside the broadcast builds (one per
    candidate depth), and no sort-merge join may appear."""
    from polaroam_spark.operators.textstats import (
        attach_registered_domain,
    )

    docs = spark.createDataFrame(
        [(i, f"https://site{i}.example.co.uk/x") for i in range(20)],
        "doc_id long, url string",
    )
    psl = spark.createDataFrame(
        [("com",), ("co.uk",), ("uk",)], "suffix string"
    )
    plan = _plan(attach_registered_domain(docs, suffix_list=psl))
    assert "SortMergeJoin" not in plan, plan
    # depths 1 and 2 (formatted plans list each node in tree + detail
    # form; count the numbered detail entries)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    # per-depth list dedupe exchanges only — both on the 3-row side
    assert _n_hash_exchanges(plan) <= 2, plan


def test_eval_contamination_report_broadcasts_eval(spark, docs):
    """The eval side reduces to broadcast (item, gram-hash) pairs, so
    corpus grams must join map-side: no sort-merge join, and matched
    triples are the only thing the per-item aggregate shuffles."""
    from polaroam_spark.operators.dedup import eval_contamination_report

    ev = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    plan = _plan(eval_contamination_report(corpus, ev, n=3))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_contamination_short_passes_reuse_tokenized_corpus(spark, docs):
    """VERDICT r10 #5: with short eval items present, every extra
    length pass must re-shingle the PERSISTED (id, token-array)
    frame — the plan shows InMemoryTableScan reads, not repeated
    regex tokenization of the corpus text. Without short items the
    single pass streams with no cache."""
    from polaroam_spark.operators.dedup import (
        eval_contamination_report,
        ngram_overlap_counts,
    )

    ev_short = docs.filter(F.col("doc_id") < 5).select(
        "doc_id", F.lit("tok0 tok1").alias("text")
    )
    corpus = docs.filter(F.col("doc_id") >= 5)
    for fn in (ngram_overlap_counts, eval_contamination_report):
        # no-short FIRST: once the short variant persists the token
        # frame, the session cache manager would substitute the
        # cached subtree into any later identical logical plan
        plan_noshort = _plan(
            fn(corpus, ev_short, n=3, match_short_eval=False)
        )
        assert "InMemoryTableScan" not in plan_noshort, fn.__name__
        plan = _plan(fn(corpus, ev_short, n=3))
        assert "InMemoryTableScan" in plan, (fn.__name__, plan)


def test_reference_bigram_counts_join_broadcast_total(spark, docs):
    """Reference-LM scoring: the (scalar) total joins by broadcast —
    no cartesian product — and the whole pipeline stays equi-joins
    over count tables."""
    from polaroam_spark.operators.textstats import (
        bigram_logprob_vs_reference,
    )

    ref = docs.filter(F.col("doc_id") < 10)
    plan = _plan(bigram_logprob_vs_reference(docs, ref))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_dsir_weights_broadcast_bucket_table(spark, docs):
    """DSIR's whole scale premise: the hashed-bucket log-ratio table
    is exactly B rows and broadcasts — corpus gram streams must join
    it map-side, never cartesian."""
    from polaroam_spark.operators.textstats import (
        dsir_importance_weights,
    )

    target = docs.filter(F.col("doc_id") < 10)
    plan = _plan(
        dsir_importance_weights(docs, target, num_buckets=1024)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gumbel_topk_ranks_projected_frame(spark, docs):
    """Gumbel top-k must rank a skinny (key, score) projection and
    semi-join survivors back — whole rows never enter the top-k. The
    small-k path must compile to TakeOrderedAndProject (per-partition
    heaps merged on the driver), NOT a global Window: r11's
    ``row_number() OVER (ORDER BY ...)`` funneled every row through a
    single task (r11 ADVICE finding)."""
    from polaroam_spark.operators.sampling import gumbel_topk_sample

    weighted = docs.select(
        "doc_id", "text", (F.length("text") / 100.0).alias("_lw")
    )
    plan = _plan(gumbel_topk_sample(weighted, "_lw", key="doc_id", k=5))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    # the heap input carries only the projected columns
    toap = plan[plan.index("TakeOrderedAndProject") :]
    assert "_gk_score" in toap


def test_leakage_safe_split_joins_components_once(spark, docs):
    """The corpus must see exactly ONE equi-join against the
    component map (no CartesianProduct, no repeated closure) and the
    split filter must be a pure hash expression — the unpaired
    majority pays a join probe, never a shuffle explosion."""
    from polaroam_spark.operators.sampling import leakage_safe_split

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "id_a long, id_b long"
    )
    train, test = leakage_safe_split(
        docs.select("doc_id", "text"), pairs, test_fraction=0.2
    )
    for side in (train, test):
        plan = _plan(side)
        assert "CartesianProduct" not in plan, plan
        assert "md5" in plan  # the portable-hash split key
    # the two sides are complementary filters of one shared plan
    assert train.count() + test.count() == docs.count()


def test_apply_whitening_is_single_arrow_stage(spark):
    """Projection through a whitening/rotation model must be ONE
    Arrow-batched python stage over the scan — no join, no shuffle
    (the model rides inside the UDF closure)."""
    import numpy as np

    from polaroam_spark.operators.vectors import apply_whitening

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    model = {
        "mean": np.zeros(2),
        "components": np.eye(2),
    }
    plan = _plan(apply_whitening(df, model))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # formatted plans list each node twice (tree + detail); count the
    # numbered detail entries
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan


def test_bpe_encode_and_count_are_map_only(spark, docs):
    """The tokenizer's recurring cost is a single Arrow-batched
    projection: zero Exchange in encode, count, and the exact-token
    chunker (windows are array expressions over the id column —
    posexplode is a generator, not a shuffle)."""
    from polaroam_spark.operators.tokenize import (
        _BYTE_TO_UNI,
        bpe_encode,
        bpe_token_count,
        chunk_documents_bpe,
    )

    model = {
        "vocab": {u: b for b, u in _BYTE_TO_UNI.items()},
        "merges": [],
    }
    assert _n_hash_exchanges(_plan(bpe_encode(docs, model))) == 0
    assert _n_hash_exchanges(_plan(bpe_token_count(docs, model))) == 0
    plan = _plan(chunk_documents_bpe(docs, model, chunk_tokens=8))
    assert _n_hash_exchanges(plan) == 0, plan
    assert "Generate" in plan  # posexplode, not a join/shuffle


def test_normalize_text_is_map_only(spark, docs):
    from polaroam_spark.operators.textstats import normalize_text

    plan = _plan(docs.select(normalize_text("text", "NFKC")))
    assert _n_hash_exchanges(plan) == 0, plan


def test_train_bpe_histogram_is_one_partial_agg(spark, docs):
    """Training's distributed half: explode -> groupBy count must be
    map-side combined (partial_count before the single Exchange) and
    the top-words cut a TakeOrdered, never a global sort."""
    from pyspark.sql import functions as F

    from polaroam_spark.operators.tokenize import train_bpe

    # replicate the plan train_bpe builds (it collects eagerly, so
    # probe the same chain)
    import polaroam_spark.operators.tokenize as tk
    from pyspark.sql import types as T
    import pandas as pd

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _pretok(col: pd.Series) -> pd.Series:
        return col.map(
            lambda t: None if t is None else tk._PRETOKEN_RE.findall(t)
        )

    hist = (
        docs.select(F.explode(_pretok(F.col("text"))).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(100)
    )
    plan = _plan(hist)
    assert _n_hash_exchanges(plan) <= 1, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_unigram_encode_and_count_are_map_only(spark, docs):
    """The unigram family's recurring cost matches BPE's contract:
    zero Exchange in encode and count — one Arrow projection."""
    import math

    from polaroam_spark.operators.unigram import (
        _BYTE_TOKEN_ID,
        unigram_encode,
        unigram_token_count,
    )

    chars = sorted(set("alphbetgmdoc0123456789 ezint"))
    model = {
        "type": "unigram",
        "vocab": dict(_BYTE_TOKEN_ID)
        | {c: 256 + i for i, c in enumerate(chars)},
        "scores": {c: -math.log(len(chars)) for c in chars},
        "max_piece_length": 1,
    }
    assert _n_hash_exchanges(_plan(unigram_encode(docs, model))) == 0
    assert _n_hash_exchanges(
        _plan(unigram_token_count(docs, model))
    ) == 0


def test_kn_trigram_broadcast_total_no_python(spark, docs):
    """KN reference scoring: the scalar continuation total rides a
    broadcast crossJoin (never a shuffle), the whole plan stays
    JVM-side, and the five count-table joins bound the hash
    exchanges (model aggregations + joins + the final doc average —
    no hidden extra shuffle)."""
    from polaroam_spark.operators.textstats import (
        kn_trigram_logprob_vs_reference,
    )

    ref = docs.filter(F.col("doc_id") < 10)
    plan = _plan(kn_trigram_logprob_vs_reference(docs, ref))
    assert "BroadcastExchange" in plan, plan
    assert "EvalPython" not in plan, plan
    # tri/ctx/cbg/mid/ucont aggregations + both sides of their five
    # static SMJ joins + per-doc avg + the join back to docs = 16 in
    # the pre-AQE plan (AQE folds most into broadcasts at runtime);
    # the bound catches a quadratic rewrite or a lost broadcast
    assert _n_hash_exchanges(plan) <= 16, plan


def test_mkv_header_meta_is_map_only(spark):
    """Sizing a video corpus must be a pure projection: zero
    Exchange, zero Python, whatever the walk depth."""
    from polaroam_spark.operators.multimodal import mkv_header_meta

    df = spark.createDataFrame(
        [(1, b"\x1a\x45\xdf\xa3junk")], "i long, content binary"
    )
    plan = _plan(df.select(mkv_header_meta("content")))
    assert _n_hash_exchanges(plan) == 0, plan
    assert "EvalPython" not in plan, plan


def test_mixture_report_broadcasts_plan_and_total(spark, docs):
    """The data card: ONE corpus-side aggregation (#groups keys);
    the plan table and the 1-row total both broadcast."""
    from polaroam_spark.operators.curation import mixture_report

    d = docs.withColumn("source", (F.col("doc_id") % 3).cast("string"))
    plan_df = d.sparkSession.createDataFrame(
        [("0", 0.5, 1.0, 10.0), ("1", 0.3, 0.5, 5.0),
         ("2", 0.2, 0.0, 0.0)],
        "source string, target_share double, rate double, "
        "expected_tokens double",
    )
    plan = _plan(mixture_report(d, plan_df))
    assert plan.count("BroadcastExchange") >= 2, plan
    # corpus aggregation + (at most) the broadcast-join residuals
    assert _n_hash_exchanges(plan) <= 2, plan


def test_perplexity_buckets_broadcasts_cuts(spark, docs):
    """The bucket labeler's scale shape: ONE hash aggregation for
    the per-group cut points (#groups rows), broadcast back — never
    a per-stratum window, never a second corpus shuffle, no
    Python."""
    from polaroam_spark.operators.textstats import perplexity_buckets

    scored = docs.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("string").alias("lang"),
        (F.col("doc_id") * 7 % 101).cast("double").alias("s"),
    )
    plan = _plan(perplexity_buckets(scored, "s", "lang"))
    assert "BroadcastExchange" in plan, plan
    # the only hash exchange is the cuts aggregation's partial/final
    assert _n_hash_exchanges(plan) <= 1, plan
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_wordpiece_encode_and_count_are_map_only(spark, docs):
    """The third tokenizer family keeps the bpe/unigram contract:
    encode and count are single Arrow stages, zero exchanges."""
    from polaroam_spark.operators.wordpiece import (
        wordpiece_encode,
        wordpiece_token_count,
    )

    model = {
        "type": "wordpiece",
        "vocab": {"[UNK]": 0, "a": 1, "##a": 2, " ": 3},
        "unk_token": "[UNK]",
        "continuation_prefix": "##",
        "max_word_chars": None,
        "merges": [],
    }
    for fn in (wordpiece_encode, wordpiece_token_count):
        plan = _plan(fn(docs, model))
        assert _n_hash_exchanges(plan) == 0, plan
        assert "ArrowEvalPython" in plan, plan


def test_fim_transform_is_map_only(spark, docs):
    """FIM is one Arrow stage over the ids column — no shuffle at
    any corpus size."""
    from polaroam_spark.operators.objectives import fim_transform

    ids = docs.select(
        "doc_id", F.array(F.lit(1), F.lit(2), F.lit(3)).alias(
            "token_ids"
        )
    )
    plan = _plan(fim_transform(ids))
    assert _n_hash_exchanges(plan) == 0, plan
    assert "ArrowEvalPython" in plan, plan


def test_cms_build_one_partial_agg_no_python(spark, docs):
    from polaroam_spark.operators.sketches import build_cms

    items = docs.select(F.col("text").alias("item"))
    plan = _plan(build_cms(items, "item", 64, 3))
    # one shuffle (the groupBy(seed, bucket)), map-side combined
    assert _n_hash_exchanges(plan) == 1, plan
    assert "HashAggregate" in plan, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_estimate_broadcasts_sketch_no_probe_shuffle(
    spark, docs
):
    from polaroam_spark.operators.sketches import (
        build_cms,
        cms_estimate,
    )

    items = docs.select(F.col("text").alias("item"))
    cms = build_cms(items, "item", 64, 3)
    probes = docs.select(F.col("text").alias("item"))
    plan = _plan(cms_estimate(probes, "item", cms, 64, 3))
    # depth broadcast joins; the probe side never hash-shuffles
    # (the build side's own aggregation exchanges are inside the
    # broadcast subtrees); count detail lines — the tree rendering
    # repeats each node name
    assert (
        len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3
    ), plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_single_key_shuffle_jvm_only(spark, docs):
    from polaroam_spark.sources.io import snapshot_diff

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    plan = _plan(snapshot_diff(old, new, ["doc_id"]))
    # one full-outer SortMergeJoin on the key: two exchanges (one
    # per side), nothing after the join
    assert "SortMergeJoin FullOuter" in plan.replace(
        "SortMergeJoin(skew=false) FullOuter", "SortMergeJoin FullOuter"
    ) or "FullOuter" in plan, plan
    assert _n_hash_exchanges(plan) <= 2, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_buckets_single_window_shuffle(spark, docs):
    from polaroam_spark.operators.chunking import (
        length_bucketed_batches,
    )

    # varying lengths: a constant would fold the bucket exponent to
    # a literal and turn the window exchange into SinglePartition
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % 100 + 10).cast("long").alias("n_tokens"),
    )
    plan = _plan(
        length_bucketed_batches(sized, batch_tokens=1024)
    )
    # one shuffle: the per-bucket window partitioning
    assert _n_hash_exchanges(plan) == 1, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan


def test_memorization_scan_broadcasts_probe_grams(spark, docs):
    from polaroam_spark.operators.dedup import memorization_scan

    probes = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    plan = _plan(memorization_scan(corpus, probes, n=3))
    # probe gram pairs and both probe-bounded agg tables broadcast;
    # the corpus gram stream joins map-side and never sort-merges
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_report_single_agg_shuffle_jvm_only(spark, docs):
    from polaroam_spark.operators.curation import domain_report

    with_url = docs.withColumn(
        "url",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".ex"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(
                F.lit(".org")
            ),
            F.lit("/p"),
        ),
    )
    plan = _plan(domain_report(with_url))
    # one domain-keyed aggregation (partial_merge for the two
    # distinct aggregates adds planner-internal exchanges on the
    # SAME key at most); URL parse + token count are scan-side
    assert "HashAggregate" in plan, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "Join" not in plan, plan


def test_grpo_advantages_plan(spark):
    from polaroam_spark.operators.sft import grpo_advantages

    df = spark.createDataFrame(
        [(i % 10, f"c{i}", float(i % 7)) for i in range(50)],
        "prompt_id long, candidate string, score double",
    )
    plan = _plan(grpo_advantages(df))
    # one hash exchange (the id-keyed window); stats never join back
    assert _n_hash_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan


def test_filtered_udf_outputs_evaluate_once(spark, docs):
    """A filter on a UDF-computed column must not duplicate the UDF
    (guide §4.4: the pushed-down filter used to stack two
    ArrowEvalPython nodes, running the encode/bucket/hash UDF twice
    per row — observed on the r19 sft_prep, ann_topk and
    image_neardup bench plans before the asNondeterministic fences).
    Count the *detail* lines ("Arguments: [_enc(...)") — each
    physical node prints exactly one."""
    from polaroam_spark.operators.sft import (
        chunk_sft_sequences,
        encode_chat_sft,
    )
    from polaroam_spark.operators.tokenize import _BYTE_TO_UNI

    ident = {
        "vocab": {u: b for b, u in _BYTE_TO_UNI.items()},
        "merges": [],
    }
    convs = docs.select(
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
    plan = _plan(
        chunk_sft_sequences(encode_chat_sft(convs, ident), seq_len=8)
    )
    assert len(re.findall(r"Arguments: \[_enc\(", plan)) == 1, plan

    from polaroam_spark.operators.similarity import add_lsh_bucket

    vecs = docs.select(
        "doc_id",
        F.array(
            (F.col("doc_id") % 5).cast("double"),
            (F.col("doc_id") % 3).cast("double"),
        ).alias("embedding"),
    )
    bucketed = add_lsh_bucket(vecs, num_planes=4, bucketer="arrow")
    # the ANN join's inferred isnotnull(bucket) predicate is the
    # pusher; a self-join on the bucket reproduces it
    joined = bucketed.alias("a").join(
        bucketed.alias("b"), on="lsh_bucket"
    )
    plan = _plan(joined)
    # one evaluation per join SIDE (the two branches are distinct
    # consumers), never two stacked nodes within a branch
    assert len(re.findall(r"Arguments: \[_bucket\(", plan)) <= 2, plan


def test_hamming_pair_dedup_shuffles_verified_triples(spark):
    # r19 optimization round: verification must run BEFORE the pair
    # dedup, so the dropDuplicates exchange aggregates (id_a, id_b,
    # hamming) — never the raw fingerprints of every candidate. A
    # regression reintroduces first(_fa)/first(_fb) aggregates (the
    # old shape) and ships both fingerprints per candidate.
    from polaroam_spark.operators.dedup import fingerprint_hamming_pairs

    fps = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 32)) for i in range(40)],
        "doc_id long, fp long",
    )
    plan = _plan(fingerprint_hamming_pairs(fps, "fp", bits=32))
    assert "first(_fa" not in plan and "first(_fb" not in plan, plan
    assert "first(hamming" in plan, plan


def test_embedding_neardup_dedup_shuffles_verified_triples(spark):
    # same contract as the fingerprint twin: the dedup exchange must
    # carry (id_a, id_b, cosine), never both embedding vectors
    from polaroam_spark.operators.dedup import embedding_neardup_pairs

    rows = [
        (i, [float((i * j) % 7) - 3.0 for j in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = _plan(embedding_neardup_pairs(emb, cosine_threshold=0.5))
    assert "first(_va" not in plan and "first(_vb" not in plan, plan


def test_topk_windows_rank_projected_candidates(spark):
    # r19 optimization round: the per-query top-k window must rank the
    # (query_id, vec_id, cosine) projection — an Input [5] window means
    # both embedding vectors ride the exchange for every candidate
    from polaroam_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        cosine_topk,
    )

    rows = [
        (i, [float((i * j) % 7) - 3.0 for j in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for df in (
        cosine_topk(emb, q, k=5),
        ann_ivf_topk(emb, q, k=5, num_centroids=4),
        ann_lsh_topk(emb, q, k=5, num_planes=4),
    ):
        plan = _plan(df)
        win = re.search(
            r"\(\d+\) Window\n(?:.*\n)*?Input \[(\d+)\]", plan
        )
        assert win is not None, plan
        assert int(win.group(1)) == 3, plan


def test_grouped_map_plans_infer_eval_type(spark):
    """The three applyInPandas grouped maps (token-stream packing, SFT
    packing, best-fit packing plan) type-hint every parameter, so
    PySpark infers the grouped-map eval type from the hints instead of
    warning "Cannot infer the eval type" on every plan build."""
    import warnings

    from polaroam_spark.operators.chunking import packing_plan_bestfit
    from polaroam_spark.operators.sft import pack_sft_sequences
    from polaroam_spark.operators.tokenize import pack_token_stream

    ids = spark.createDataFrame(
        [(0, [1, 2, 3], [0, 1, 1])],
        "doc_id long, token_ids array<int>, loss_mask array<int>",
    )
    chunks = spark.createDataFrame(
        [(0, 0, 5)], "doc_id long, chunk_id long, n_tokens long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pack_token_stream(
            ids, None, seq_len=2, ids_col="token_ids", num_shards=2
        )
        pack_sft_sequences(ids, seq_len=2, num_shards=2)
        packing_plan_bestfit(chunks, budget_tokens=8, num_shards=2)
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]


def _simple_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple")
    )


def _depth(line):
    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def _subtrees(df, node):
    """Lines of the simple physical plan under each ``node`` line (the
    node itself excluded), one list per occurrence."""
    plan = _simple_plan(df).splitlines()
    subs = []
    for top, head in enumerate(plan):
        if node not in head:
            continue
        sub = []
        for line in plan[top + 1:]:
            if _depth(line) <= _depth(head):
                break
            sub.append(line)
        subs.append(sub)
    return subs


def _grouped_map_subtree(df):
    """Lines of the physical plan under the FlatMapGroupsInPandas
    node (the node itself excluded)."""
    return _subtrees(df, "FlatMapGroupsInPandas")[0]


def test_per_user_clustering_maps_one_uid_exchange(spark):
    """Every per-user clustering grouped map (DBSCAN, Infomap labels,
    invariants and backend differential) reads its node table through
    exactly one exchange: the uid-pinned REPARTITION_BY_NUM, which
    AQE may not coalesce and which also satisfies the per-node count
    and the groupBy(uid)."""
    from polaroam_spark.operators.clustering import (
        cluster_communities,
        cluster_stops_dbscan,
        communities_backend_differential,
        community_invariants,
    )

    med = spark.createDataFrame(
        [("a", 0, 19.4, -99.1), ("a", 1, 19.40001, -99.1)],
        "uid string, stop_events long, latitude double, longitude double",
    )
    for df in (
        cluster_stops_dbscan(med, r2=25.0),
        cluster_communities(med, r2=25.0),
        community_invariants(med, r2=25.0),
        communities_backend_differential(med, r2=25.0, target="vendored"),
    ):
        exchanges = [l for l in _grouped_map_subtree(df) if "Exchange" in l]
        assert len(exchanges) == 1, exchanges
        assert re.search(
            r"Exchange hashpartitioning\(uid#\d+, \d+\), REPARTITION_BY_NUM",
            exchanges[0],
        ), exchanges


def _own_lines(sub):
    """``sub`` without the subtrees of the broadcasts nested in it."""
    own, cut = [], None
    for line in sub:
        d = _depth(line)
        if cut is not None and d > cut:
            continue
        cut = None
        own.append(line)
        if "BroadcastExchange" in line:
            cut = d
    return own


def test_homework_detect_pass_stats_one_exchange(spark):
    """Each detect pass's label frame (the broadcast side of its label
    join) is built over ONE uid-keyed exchange: the distinct dates,
    the per-uid date count and the per-cluster aggregate share it. The
    work pass's input holds the home pass, whose broadcast is left out
    of the work pass's count."""
    from polaroam_spark.operators.homework import (
        detect_home,
        detect_work,
        prepare_labeling,
    )

    stops = spark.createDataFrame(
        [("u1", i % 3, 1700006400 + i * 3600, 1700006400 + i * 3600 + 1800)
         for i in range(48)],
        "uid string, stop_locations long, "
        "start_timestamp long, end_timestamp long",
    )
    for df, passes in (
        (detect_home(prepare_labeling(stops)), 1),
        (detect_work(detect_home(prepare_labeling(stops))), 3),
    ):
        stats = _subtrees(df, "BroadcastExchange")
        assert len(stats) == passes
        for sub in stats:
            exchanges = [
                l for l in _own_lines(sub)
                if "Exchange" in l and "BroadcastExchange" not in l
            ]
            assert len(exchanges) == 1, exchanges
            assert re.search(
                r"Exchange hashpartitioning\(uid#\d+, \d+\)", exchanges[0]
            ), exchanges


def test_home_work_wide_one_exchange_no_window(spark):
    """``home_work_wide`` picks each type's medoid in one
    ``groupBy("uid")``: one exchange, no window, no pivot."""
    from polaroam_spark.operators.homework import home_work_wide

    labeled = spark.createDataFrame(
        [("a", "H", 0, 3, 1.0, 2.0), ("a", "W", 1, 2, 3.0, 4.0)],
        "uid string, location_type string, stop_locations long,"
        " cluster_counts long, cluster_latitude double,"
        " cluster_longitude double",
    )
    plan = _simple_plan(home_work_wide(labeled))
    assert re.findall(r"Exchange \w+", plan) == [
        "Exchange hashpartitioning"
    ], plan
    assert "Window" not in plan, plan
    assert "pivot" not in plan.lower(), plan
