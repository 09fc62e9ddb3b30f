"""Capture .explain('formatted') for every bench query into
plans/r20/<query>_<suffix>.txt.

Usage: python tools/plan_capture.py <suffix> [query ...]

The output directory defaults to plans/r20 (the plan set the repo
keeps); set PLAN_OUT_DIR to write elsewhere.

Mirrors bench.py's query construction (same operators, same params)
but dumps the physical plan instead of executing the noop sink.
Construction side effects that bench.py also pays (medians parquet
materialization, tokenizer training, KN model materialization) run
here too — the captured plan is the plan of the FINAL frame the
noop sink executes.
"""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get(
    "PLAN_OUT_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r20"),
)
suffix = sys.argv[1]
only = set(sys.argv[2:]) or None

from polaroam_spark import get_spark

spark = get_spark(app_name="plan-capture")
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as em
from pyspark.sql import functions as F

builders = {}


def q(name):
    def reg(fn):
        builders[name] = fn
        return fn
    return reg


@q("stop_detection")
def b_stop(): return em._medians_df(spark, SF_DIR)


@q("dbscan_clustering")
def b_dbscan():
    from polaroam_spark.operators.clustering import attach_medoids, cluster_stops_dbscan
    med = em._medians_df(spark, SF_DIR)
    return attach_medoids(cluster_stops_dbscan(med, r2=25.0))


@q("homework_labeling")
def b_homework(): return em._work_df(spark, SF_DIR)


@q("interval_compaction")
def b_interval(): return em.queries()["w8_compute_intervals"](spark, SF_DIR)


@q("tpch_agg")
def b_tpch_agg():
    li = em._t(spark, SF_DIR, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_revenue"),
        F.avg("l_discount").alias("avg_disc"),
        F.count("*").alias("n"),
    )


@q("tpch_join")
def b_tpch_join():
    o = em._t(spark, SF_DIR, "orders")
    c = em._t(spark, SF_DIR, "customer")
    li = em._t(spark, SF_DIR, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q("dedup_minhash")
def b_dedup():
    from polaroam_spark.operators.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(em._t(spark, SF_DIR, "documents"), jaccard_threshold=0.8)


@q("ann_topk")
def b_ann():
    from polaroam_spark.operators.similarity import ann_lsh_topk
    emb = em._t(spark, SF_DIR, "embeddings")
    qdf = emb.filter(F.col("vec_id") < 50).select(F.col("vec_id").alias("query_id"), "embedding")
    try:
        return ann_lsh_topk(emb, qdf, k=10, num_planes=8, num_probes=3, bucketer="arrow")
    except TypeError:
        return ann_lsh_topk(emb, qdf, k=10, num_planes=8, num_probes=3)


@q("text_quality")
def b_text_quality():
    from polaroam_spark.operators.textstats import quality_features
    return quality_features(em._t(spark, SF_DIR, "documents")).select(
        "doc_id", "n_tokens", "quality_score")


@q("quality_score")
def b_quality_score():
    from polaroam_spark.operators.quality import score_quality_classifier
    B = 4096
    model = {
        "weights": [(i % 97) / 97.0 - 0.5 for i in range(B)],
        "bias": 0.25, "num_buckets": B, "seed": 17,
    }
    docs = em._t(spark, SF_DIR, "documents")
    return score_quality_classifier(docs, model).select("doc_id", "quality_prob", "quality_label")


@q("langid_score")
def b_langid():
    from polaroam_spark.operators.langid import score_langid
    B, K = 1024, 5
    model = {
        "classes": ["en", "de", "es", "fr", "zh"],
        "weights": [[((i * (k + 3)) % 89) / 89.0 - 0.5 for i in range(B)] for k in range(K)],
        "biases": [0.1 * k for k in range(K)],
        "num_buckets": B, "seed": 17, "feature": "word",
    }
    docs = em._t(spark, SF_DIR, "documents").repartition(spark.sparkContext.defaultParallelism)
    return score_langid(docs, model).select("doc_id", "language_pred", "language_prob")


@q("dsir_gumbel")
def b_dsir():
    from polaroam_spark.operators.sampling import gumbel_topk_sample
    from polaroam_spark.operators.textstats import dsir_importance_weights
    docs = em._t(spark, SF_DIR, "documents")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    scored = dsir_importance_weights(docs, target)
    return gumbel_topk_sample(scored, "dsir_logweight", key="doc_id", k=500, seed=17)


@q("pca_whiten")
def b_pca():
    from polaroam_spark.operators.vectors import pca_whiten
    emb = em._t(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    out, _model = pca_whiten(emb, "embedding")
    return out.select("vec_id", "whitened")


@q("bpe_tokenize")
def b_bpe():
    from polaroam_spark.operators.tokenize import bpe_encode, train_bpe
    docs = em._t(spark, SF_DIR, "documents")
    model = train_bpe(docs, "text", vocab_size=512)
    return (
        bpe_encode(docs, model, "text")
        .withColumn("n_tokens", F.array_size("token_ids").cast("long"))
        .select("doc_id", "token_ids", "n_tokens")
    )


@q("unigram_tokenize")
def b_unigram():
    from polaroam_spark.operators.unigram import train_unigram, unigram_encode
    docs = em._t(spark, SF_DIR, "documents")
    model = train_unigram(docs, "text", vocab_size=512)
    return (
        unigram_encode(docs, model, "text")
        .withColumn("n_tokens", F.array_size("token_ids").cast("long"))
        .select("doc_id", "token_ids", "n_tokens")
    )


@q("wordpiece_tokenize")
def b_wordpiece():
    from polaroam_spark.operators.wordpiece import train_wordpiece, wordpiece_encode
    docs = em._t(spark, SF_DIR, "documents")
    model = train_wordpiece(docs, "text", vocab_size=2048)
    return (
        wordpiece_encode(docs, model, "text")
        .withColumn("n_tokens", F.array_size("token_ids").cast("long"))
        .select("doc_id", "token_ids", "n_tokens")
    )


@q("text_signals")
def b_text_signals():
    from polaroam_spark.operators.textstats import compression_ratio, token_entropy
    docs = em._t(spark, SF_DIR, "documents").repartition(spark.sparkContext.defaultParallelism)
    return compression_ratio(token_entropy(docs)).select(
        "doc_id", "token_entropy", "compression_ratio")


@q("memorization_scan")
def b_memo():
    from polaroam_spark.functions.text import tokens
    from polaroam_spark.operators.dedup import memorization_scan
    docs = (
        em._t(spark, SF_DIR, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    tk = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", tokens("text").alias("_toks"))
    probes = tk.filter(F.size("_toks") >= 16).select(
        "doc_id", F.concat_ws(" ", F.slice("_toks", 4, 12)).alias("text"))
    return memorization_scan(docs, probes, n=8).select(
        "doc_id", "n_memorized_grams", "n_corpus_docs", "memorized")


@q("warc_wet")
def b_warc():
    # reuse bench.py's fixture dir when present; build it otherwise
    # (same generator as bench.py's _prep_warc — fixture prep is
    # untimed there too)
    from polaroam_spark.sources.warc import http_response_parts, read_warc, write_warc_file

    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
    warc_dir = os.path.join(scratch, "bench_warc")
    if not (os.path.isdir(warc_dir) and os.listdir(warc_dir)):
        os.makedirs(warc_dir, exist_ok=True)
        rows = em._t(spark, SF_DIR, "documents").select("doc_id", "text").collect()
        for b in range(8):
            write_warc_file(
                (
                    (
                        f"<urn:bench:{r.doc_id}>", "response",
                        f"https://bench.local/doc/{r.doc_id}", "2026-08-15T00:00:00Z",
                        "application/http",
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + r.text.encode("utf-8"),
                    )
                    for r in rows
                    if r.doc_id % 8 == b
                ),
                os.path.join(warc_dir, f"part-{b}.warc.gz"),
            )
    w = read_warc(spark, warc_dir, types="response")
    return w.select(
        "record_id", "target_uri", http_response_parts("payload").alias("p")
    ).select("record_id", "target_uri", "p.status", "p.body")


@q("kn_5gram")
def b_kn():
    from polaroam_spark.operators.textstats import kn_ngram_logprob_vs_reference
    docs = em._t(spark, SF_DIR, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    return kn_ngram_logprob_vs_reference(docs, ref, order=5).select("doc_id", "mean_kn_logprob")


@q("sft_prep")
def b_sft():
    from polaroam_spark.operators.sft import chunk_sft_sequences, encode_chat_sft
    from polaroam_spark.operators.tokenize import _BYTE_TO_UNI
    ident = {"vocab": {u: b for b, u in _BYTE_TO_UNI.items()}, "merges": []}
    docs = em._t(spark, SF_DIR, "documents")
    convs = (
        docs.filter(F.col("text").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.array(
                F.struct(F.lit("user").alias("role"), F.col("text").alias("content")),
                F.struct(F.lit("assistant").alias("role"), F.col("text").alias("content")),
            ).alias("messages"),
        )
    )
    return chunk_sft_sequences(encode_chat_sft(convs, ident), seq_len=512, drop_no_loss=False)


os.makedirs(OUT_DIR, exist_ok=True)
for name, fn in builders.items():
    if only and name not in only:
        continue
    try:
        df = fn()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT_DIR, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"captured {name}_{suffix}")
    except Exception as e:
        print(f"FAILED {name}: {e!r}")
