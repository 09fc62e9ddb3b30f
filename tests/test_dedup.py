"""Dedup operator tests: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding near-dup — small corpora with planted duplicates."""

import pyspark.sql.functions as F
import pytest

from polaroam_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the late afternoon sun"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, "The  quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill in the late afternoon sun"),
        # near-duplicate: one word changed
        (3, BASE.replace("afternoon", "morning")),
        (4, "completely different text about spark query engines and "
            "distributed columnar execution with vectorized operators"),
        (5, "another unrelated document mentioning parquet files shuffle "
            "partitions and adaptive query execution in big clusters"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = {r.doc_id for r in dedup_exact(docs).collect()}
    assert 0 in kept and 1 not in kept
    # normalization collapses whitespace/case: doc 2 is also a dup of 0
    assert 2 not in kept
    assert {3, 4, 5} <= kept


def test_exact_dedup_unnormalized(docs):
    kept = {r.doc_id for r in dedup_exact(docs, normalized=False).collect()}
    assert 2 in kept  # raw text differs


def test_minhash_finds_near_duplicate(docs):
    pairs = minhash_lsh_pairs(
        docs, shingle_k=3, num_hashes=16, bands=8, jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert (0, 3) in found  # one-word edit keeps jaccard high
    assert not any({a, b} == {4, 5} for a, b in found)


def test_dedup_minhash_removes_losers(docs):
    kept = {
        r.doc_id
        for r in dedup_minhash_lsh(
            docs, shingle_k=3, num_hashes=16, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    assert 0 in kept and 1 not in kept and 3 not in kept
    assert {4, 5} <= kept


def test_simhash_pairs(docs):
    pairs = simhash_pairs(docs, bits=32, max_hamming=3, chunks=4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(0, 1)] == 0  # identical text, identical fingerprint


def test_ngram_jaccard_value(docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.4).collect()
    sim = {(r.id_a, r.id_b): r.jaccard_sim for r in pairs}
    assert sim[(0, 1)] == 1.0
    assert 0.4 <= sim[(0, 3)] < 1.0


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_neardup_pairs(
        emb, cosine_threshold=0.99, num_planes=2
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert found == {(0, 1)}
    arrow = embedding_neardup_pairs(
        emb, cosine_threshold=0.99, num_planes=2, scorer="arrow"
    ).collect()
    assert {(r.id_a, r.id_b) for r in arrow} == found


def test_minhash_lsh_hot_bucket_guard(spark):
    """1k byte-identical boilerplate docs: the degenerate band buckets
    must take the star path (B-1 representative pairs, not B²/2), and
    dedup must still collapse the pile to one survivor."""
    from polaroam_spark.operators.dedup import (
        dedup_minhash_lsh,
        minhash_lsh_pairs,
    )

    boiler = "accept all cookies to continue reading this article now"
    rows = [(i, boiler) for i in range(1000)]
    # plus one unrelated pair of near-duplicates on the normal path
    rows += [
        (2000, "the quick brown fox jumps over the lazy sleeping dog"),
        (2001, "the quick brown fox jumps over the lazy sleeping dog!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, max_bucket_size=100
    ).collect()
    boiler_pairs = [p for p in pairs if p.id_a < 2000]
    # star topology: every boilerplate doc pairs with doc 0 only
    assert len(boiler_pairs) == 999
    assert all(p.id_a == 0 and p.jaccard_sim == 1.0 for p in boiler_pairs)
    # the normal path still finds the planted near-dup
    assert any(p.id_a == 2000 and p.id_b == 2001 for p in pairs)

    survivors = dedup_minhash_lsh(
        docs, jaccard_threshold=0.5, max_bucket_size=100
    )
    kept = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert 0 in kept and len(kept & set(range(1000))) == 1


def test_simhash_hot_bucket_guard(spark):
    """Identical boilerplate docs share every fingerprint chunk; with a
    small max_bucket_size the pairs must come out as a star around the
    min id, not an all-pairs blowup."""
    from polaroam_spark.operators.dedup import simhash_pairs

    boiler = "click here to subscribe to our newsletter for updates"
    docs = spark.createDataFrame(
        [(i, boiler) for i in range(300)], "doc_id long, text string"
    )
    pairs = simhash_pairs(docs, max_bucket_size=50).collect()
    assert len(pairs) == 299
    assert all(p.id_a == 0 and p.hamming == 0 for p in pairs)


def test_embedding_neardup_hot_bucket_guard(spark):
    from polaroam_spark.operators.dedup import embedding_neardup_pairs

    vec = [0.5, -0.25, 0.125, 1.0]
    docs = spark.createDataFrame(
        [(i, vec) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_neardup_pairs(docs, max_bucket_size=50).collect()
    assert len(pairs) == 299
    assert all(
        p.id_a == 0 and abs(p.cosine - 1.0) < 1e-9 for p in pairs
    )


def test_ngram_jaccard_max_gram_df(spark):
    """DF-capped index: a gram present in every doc is pruned from the
    index, so docs whose overlap is ONLY that gram produce no pair,
    while genuinely duplicated docs still match (lower-bound score)."""
    from polaroam_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (0, "alpha beta gamma common token run"),
        (1, "alpha beta gamma common token run"),  # true dup of 0
        (2, "common token run delta epsilon zeta"),
        (3, "common token run eta theta iota"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'common token run' appears in all 4 docs -> df=4 > cap=2
    pairs = {
        (p.id_a, p.id_b): p.jaccard_sim
        for p in ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, max_gram_df=2
        ).collect()
    }
    assert (0, 1) in pairs
    assert all(a == 0 and b == 1 for (a, b) in pairs)


def test_near_dedup_corpus_transitive_vs_greedy(spark):
    """Shared-neighbor chain: a~c and b~c but a!~b. The greedy rule
    keeps both a and b (only c has a smaller-id duplicate); the
    transitive closure collapses the whole component to min-id a."""
    from polaroam_spark.operators.dedup import near_dedup_corpus

    a = BASE
    c = BASE.replace("afternoon", "morning")  # 1 word from a
    b = c.replace("quick", "slow")  # 1 word from c, 2 from a
    docs = spark.createDataFrame(
        [(10, a), (11, b), (12, c),
         (13, "entirely unrelated text about columnar shuffle plans "
              "and adaptive execution in distributed query engines")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.7).collect()
    }
    assert pairs == {(10, 12), (11, 12)}

    greedy = {
        r.doc_id
        for r in near_dedup_corpus(
            docs, method="ngram", transitive=False, n=3, threshold=0.7
        ).collect()
    }
    assert greedy == {10, 11, 13}

    closed = {
        r.doc_id
        for r in near_dedup_corpus(
            docs, method="ngram", transitive=True, n=3, threshold=0.7
        ).collect()
    }
    assert closed == {10, 13}


def test_near_dedup_corpus_minhash_path(docs):
    """The production MinHash path drops the planted dup cluster
    {0,1,2,3} down to its min id."""
    from polaroam_spark.operators.dedup import near_dedup_corpus

    kept = {
        r.doc_id
        for r in near_dedup_corpus(
            docs,
            method="minhash",
            shingle_k=3,
            num_hashes=16,
            bands=8,
            jaccard_threshold=0.5,
        ).collect()
    }
    assert kept == {0, 4, 5}


def test_near_dedup_corpus_bad_method(docs):
    from polaroam_spark.operators.dedup import near_dedup_corpus

    with pytest.raises(ValueError, match="method"):
        near_dedup_corpus(docs, method="levenshtein")


def test_decontaminate_drops_overlapping_docs(spark):
    from polaroam_spark.operators.dedup import (
        decontaminate,
        ngram_overlap_counts,
    )

    # eval doc 100 shares an exact 5-gram window with corpus doc 0
    # (verbatim leak) and nothing with docs 4/5
    corpus_rows = [
        (0, BASE),
        (4, "completely different text about spark query engines and "
            "distributed columnar execution with vectorized operators"),
        (5, "another unrelated document mentioning parquet files shuffle "
            "partitions and adaptive query execution in big clusters"),
    ]
    eval_rows = [
        (100, "quiz: the quick brown fox jumps over the lazy dog "
              "while nothing else here matches"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")

    counts = {
        r.doc_id: r.n_overlap
        for r in ngram_overlap_counts(corpus, ev, n=5).collect()
    }
    # "the quick brown fox jumps" ... "over the lazy dog while" — the
    # shared 10-token run yields 10-5+1 = 6 shared distinct 5-grams
    assert counts == {0: 6}

    survivors = {
        r.doc_id for r in decontaminate(corpus, ev, n=5).collect()
    }
    assert survivors == {4, 5}
    # a higher bar keeps the lightly-overlapping doc
    survivors_hi = {
        r.doc_id
        for r in decontaminate(corpus, ev, n=5, min_overlap=7).collect()
    }
    assert survivors_hi == {0, 4, 5}


def test_decontaminate_short_eval_items(spark):
    from polaroam_spark.operators.dedup import decontaminate

    # eval items shorter than n match by exact text: both the short
    # corpus doc AND the long corpus doc CONTAINING the short answer
    # verbatim are contaminated (the QA-answer leak case)
    corpus = spark.createDataFrame(
        [
            (0, "tiny doc"),
            (1, "other doc"),
            (2, "a very long treatise that casually embeds the tiny doc "
                "phrase in the middle of otherwise original prose"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(9, "tiny doc")], "doc_id long, text string"
    )
    survivors = {
        r.doc_id for r in decontaminate(corpus, ev, n=8).collect()
    }
    assert survivors == {1}
    # opting out restores pure n-gram semantics: the short eval item
    # matches nothing
    survivors_off = {
        r.doc_id
        for r in decontaminate(
            corpus, ev, n=8, match_short_eval=False
        ).collect()
    }
    assert survivors_off == {0, 1, 2}


LEAK = "one two three four five six seven eight nine ten eleven twelve"


def _null_id_leak(spark):
    """A contaminated corpus doc with a NULL id, beside a contaminated
    and a clean doc with ids; the eval side holds the leak under a
    NULL id and an unrelated item."""
    corpus = spark.createDataFrame(
        [(None, LEAK), (1, LEAK), (2, "clean words that match nothing")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(None, LEAK), (10, "other")], "doc_id long, text string"
    )
    return corpus, ev


def test_decontaminate_drops_null_id_docs(spark):
    """NULL corpus ids form one group: once any NULL-id doc matches,
    every NULL-id doc drops (a left-anti join on a NULL key never
    matches, so the leaked row used to survive)."""
    from polaroam_spark.operators.dedup import (
        decontaminate,
        ngram_overlap_counts,
    )

    corpus, ev = _null_id_leak(spark)
    counts = {
        r.doc_id: r.n_overlap
        for r in ngram_overlap_counts(corpus, ev, n=3).collect()
    }
    assert counts == {1: 10, None: 10}
    survivors = [
        (r.doc_id, r.text) for r in decontaminate(corpus, ev, n=3).collect()
    ]
    assert survivors == [(2, "clean words that match nothing")]


def test_dedup_lines_removes_boilerplate(spark):
    from polaroam_spark.operators.dedup import dedup_lines

    header = "SITE NAV | home | about"
    footer = "copyright 2024 example corp"
    rows = [
        (0, f"{header}\nunique article body zero\n{footer}"),
        (1, f"{header}\nanother distinct body one\n{footer}"),
        (2, f"{header}\n  {footer}  \nonly chrome plus this line"),
        (3, "standalone document with no chrome at all"),
        (4, f"{header}\n{footer}"),  # nothing survives
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines(docs, min_doc_freq=2).collect()}

    assert out[0].text == "unique article body zero"
    assert out[0].n_lines_removed == 2
    assert out[1].text == "another distinct body one"
    # trimming matches the padded footer on doc 2
    assert out[2].text == "only chrome plus this line"
    assert out[2].n_lines_removed == 2
    assert out[3].text == rows[3][1]
    assert out[3].n_lines_removed == 0
    assert out[4].text == ""
    assert out[4].n_lines_removed == 2
    assert len(out) == 5


def test_dedup_lines_doc_freq_threshold(spark):
    from polaroam_spark.operators.dedup import dedup_lines

    # a line repeated WITHIN one doc is not cross-doc boilerplate
    rows = [
        (0, "repeat\nrepeat\nbody zero"),
        (1, "totally different text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines(docs, min_doc_freq=2).collect()}
    assert out[0].text == "repeat\nrepeat\nbody zero"
    assert out[0].n_lines_removed == 0


def test_incremental_dedup_against_index(spark):
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        dedup_incremental,
        minhash_lsh_pairs_incremental,
    )

    corpus = spark.createDataFrame(
        [(0, BASE),
         (1, "established corpus document about distributed query "
             "planning and columnar storage formats in modern engines")],
        "doc_id long, text string",
    )
    index = build_minhash_index(corpus, num_hashes=16)

    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 0 (one word changed)
            (10, BASE.replace("afternoon", "evening")),
            # batch-internal near-dup pair
            (11, "fresh batch text describing adaptive shuffle "
                 "partition coalescing under skewed workloads today"),
            (12, "fresh batch text describing adaptive shuffle "
                 "partition coalescing under skewed workloads tonight"),
            # genuinely novel
            (13, "completely unrelated musings on garbage collection "
                 "pauses and arena allocators in native runtimes"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs_incremental(
        batch, index, num_hashes=16, bands=8, jaccard_threshold=0.5
    ).collect()
    sides = {(r.id_new, r.id_match): r.match_side for r in pairs}
    assert sides.get((10, 0)) == "corpus"
    assert sides.get((12, 11)) == "batch"
    assert all(idn != 13 for idn, _ in sides)

    survivors = {
        r.doc_id
        for r in dedup_incremental(
            batch, index, num_hashes=16, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    # 10 dies to the corpus, 12 dies to 11; 11 and 13 survive
    assert survivors == {11, 13}


def test_incremental_matches_full_rerun(spark, docs):
    """Splitting a corpus and deduping the tail against the head's
    index finds exactly the cross/batch pairs the full self-join run
    finds across the split."""
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, shingle_k=3, num_hashes=16, bands=8,
            jaccard_threshold=0.5,
        ).collect()
        if r.id_b >= 3  # pairs with the new side in them
    }
    head = docs.filter(F.col("doc_id") < 3)
    tail = docs.filter(F.col("doc_id") >= 3)
    # id_match < id_new holds on both sides (corpus ids precede batch
    # ids here; batch pairs always report the smaller id as id_match)
    inc = {
        (r.id_match, r.id_new)
        for r in minhash_lsh_pairs_incremental(
            tail, build_minhash_index(head, num_hashes=16),
            num_hashes=16, bands=8, jaccard_threshold=0.5,
        ).collect()
    }
    assert inc == full


def test_decontaminate_idempotent(spark, docs):
    from polaroam_spark.operators.dedup import decontaminate

    ev = docs.filter(F.col("doc_id") == 0).select("doc_id", "text")
    once = decontaminate(docs, ev, n=5)
    twice = decontaminate(once, ev, n=5)
    assert sorted(r.doc_id for r in once.collect()) == sorted(
        r.doc_id for r in twice.collect()
    )


def test_dedup_lines_idempotent(spark):
    from polaroam_spark.operators.dedup import dedup_lines

    rows = [
        (0, "shared header\nbody zero\nshared footer"),
        (1, "shared header\nbody one\nshared footer"),
        (2, "shared header\nbody two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    once = dedup_lines(docs, min_doc_freq=2)
    twice = dedup_lines(once, min_doc_freq=2)
    a = {r.doc_id: r.text for r in once.collect()}
    b = {r.doc_id: r.text for r in twice.collect()}
    assert a == b
    assert a[0] == "body zero"


def test_incremental_hot_bucket_guards(spark):
    """Both degenerate-bucket guards of the incremental path: a hot
    CORPUS bucket (boilerplate pile in the index) collapses to its
    representative, and a hot BATCH bucket takes the star path."""
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    boiler = "accept all cookies to continue reading this article now"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(500)], "doc_id long, text string"
    )
    index = build_minhash_index(corpus)

    spam = "subscribe to our newsletter for weekly updates and offers"
    batch = spark.createDataFrame(
        [(1000, boiler)] + [(1100 + i, spam) for i in range(300)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs_incremental(
        batch, index, jaccard_threshold=0.5, max_bucket_size=100
    ).collect()

    corpus_hits = [p for p in pairs if p.match_side == "corpus"]
    # hot corpus bucket: the boilerplate batch doc matches ONLY the
    # min-id representative, not all 500 corpus copies
    assert len(corpus_hits) == 1
    assert corpus_hits[0].id_new == 1000 and corpus_hits[0].id_match == 0
    batch_hits = [p for p in pairs if p.match_side == "batch"]
    # hot batch bucket: 300 spam docs -> 299 star pairs to min id 1100
    assert len(batch_hits) == 299
    assert all(p.id_match == 1100 for p in batch_hits)


def _n_persistent_rdds(spark):
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_materialize_releases_intermediate_caches(spark, docs):
    # Lazy default: the signature + band caches stay alive (2 extra
    # persistent RDDs) because the returned plan references them.
    # materialize=True must release every intermediate cache; only the
    # lineage-cut result itself (one localCheckpoint RDD) may remain.
    spark.catalog.clearCache()
    before = _n_persistent_rdds(spark)
    pairs = minhash_lsh_pairs(docs, materialize=True)
    n = pairs.count()
    assert n >= 1  # the planted near-dups are still found
    after = _n_persistent_rdds(spark)
    assert after - before <= 1, (
        f"minhash_lsh_pairs(materialize=True) leaked "
        f"{after - before} persistent RDDs (expected <= 1: the "
        "checkpointed result only)"
    )


def test_materialize_incremental_releases_batch_cache(spark, docs):
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    index = build_minhash_index(docs.filter(F.col("doc_id") <= 2))
    batch = docs.filter(F.col("doc_id") >= 3)
    spark.catalog.clearCache()
    before = _n_persistent_rdds(spark)
    for _ in range(3):  # per-batch ingest loop: storage must not grow
        pairs = minhash_lsh_pairs_incremental(
            batch, index, materialize=True
        )
        pairs.count()
    after = _n_persistent_rdds(spark)
    assert after - before <= 3, (
        f"3 materialized incremental calls left {after - before} "
        "persistent RDDs (expected <= 3: one checkpointed result each)"
    )


def test_dedup_lines_null_text_is_empty_doc(spark):
    from polaroam_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(0, "keep me\nshared footer"), (1, "other\nshared footer"),
         (2, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(docs, min_doc_freq=2).collect()}
    assert out[2].text == "" and out[2].n_lines_removed == 0
    assert out[0].n_lines_removed == 1


def test_ngram_default_caps_stop_grams(spark):
    """The production default prunes ubiquitous grams from the index
    side (lower-bound Jaccard, no false positives); the _exact
    variant keeps them. Corpus: every doc shares one stop-gram run;
    only two docs are real near-dups."""
    from polaroam_spark.operators.dedup import (
        DEFAULT_MAX_GRAM_DF,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_exact,
    )

    stop = "the of the and"  # one shared 4-token run => shared 3-grams
    rows = [(i, f"{stop} unique{i} filler{i} words{i}") for i in range(6)]
    rows.append((6, "real duplicate candidate text body here okay"))
    rows.append((7, "real duplicate candidate text body here okay"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {(r.id_a, r.id_b): r.jaccard_sim
             for r in ngram_jaccard_pairs_exact(
                 docs, n=3, threshold=0.2).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard_sim
              for r in ngram_jaccard_pairs(
                  docs, n=3, threshold=0.2, max_gram_df=3).collect()}
    # the stop-gram-only pairs clear 0.2 (2 shared of 8 union grams)
    assert any(a < 6 and b < 6 for a, b in exact)
    # capped run: stop-grams (df=6 > 3) pruned from the index, so the
    # boilerplate pairs vanish; the true duplicate pair survives with
    # its full (identical-text) similarity
    assert all(not (a < 6 and b < 6) for a, b in capped)
    assert capped[(6, 7)] == exact[(6, 7)] == 1.0
    # lower-bound property: every reported capped sim <= exact sim
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12
    assert DEFAULT_MAX_GRAM_DF == 10_000


def test_materialize_simhash_and_embedding_release_caches(spark, docs):
    import numpy as np

    spark.catalog.clearCache()
    before = _n_persistent_rdds(spark)
    simhash_pairs(docs, materialize=True).count()
    assert _n_persistent_rdds(spark) - before <= 1

    rng = np.random.RandomState(7)
    base = rng.randn(8).tolist()
    emb = spark.createDataFrame(
        [(0, base), (1, [x + 1e-4 for x in base]),
         (2, rng.randn(8).tolist()), (3, rng.randn(8).tolist())],
        "vec_id long, embedding array<double>",
    )
    before = _n_persistent_rdds(spark)
    pairs = embedding_neardup_pairs(emb, cosine_threshold=0.99,
                                    materialize=True)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 1)}
    assert _n_persistent_rdds(spark) - before <= 1


def test_index_format_guard(spark):
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    index = build_minhash_index(docs, num_hashes=16)
    # mismatched num_hashes: loud failure, not silent zero candidates
    with pytest.raises(ValueError, match="format"):
        minhash_lsh_pairs_incremental(docs, index, num_hashes=8)
    # pre-marker index (older persisted layout): loud failure
    with pytest.raises(ValueError, match="_sig_fmt"):
        minhash_lsh_pairs_incremental(
            docs, index.drop("_sig_fmt"), num_hashes=16
        )
    # matching settings still work
    assert (
        minhash_lsh_pairs_incremental(
            docs, index, num_hashes=16
        ).count()
        >= 0
    )


def test_dedup_exact_null_text_all_survive(spark):
    from polaroam_spark.operators.dedup import dedup_exact

    docs = spark.createDataFrame(
        [(0, None), (1, None), (2, ""), (3, ""), (4, "x")],
        "doc_id long, text string",
    )
    ids = sorted(r.doc_id for r in dedup_exact(docs).collect())
    # nulls are unknown text, not duplicates: both survive;
    # empty strings ARE equal text: one survives
    assert ids == [0, 1, 2, 4]


@pytest.mark.parametrize("portable", [False, True])
def test_simhash_keeps_tokenless_docs(spark, portable):
    from polaroam_spark.operators.dedup import simhash_fingerprint

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, ""), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    fp = {
        r.doc_id: r.simhash
        for r in simhash_fingerprint(docs, portable=portable).collect()
    }
    assert set(fp) == {0, 1, 2, 3}  # one row per doc, none dropped
    assert fp[1] == fp[2] == fp[3] == 0


def test_bands_format_guard(spark):
    from polaroam_spark.operators.dedup import (
        build_minhash_index,
        expand_index_bands,
        minhash_lsh_pairs_incremental,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    index = build_minhash_index(docs, num_hashes=16)
    bands8 = expand_index_bands(index, bands=8)
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs_incremental(
            docs, index, num_hashes=16, bands=4, index_bands=bands8
        )
    # matching bands passes
    assert (
        minhash_lsh_pairs_incremental(
            docs, index, num_hashes=16, bands=8, index_bands=bands8
        ).count()
        >= 0
    )


def test_fuzzy_text_join_cross_table(spark):
    from polaroam_spark.operators.dedup import fuzzy_text_join

    base = ("the quick brown fox jumps over the lazy dog near the "
            "quiet river bank at dawn every single summer morning")
    left = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about columnar "
                        "query engines and vectorized execution")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(100, base.replace("dawn", "dusk")),   # near-dup of 1
         (200, "another unrelated piece on distributed join "
               "strategies and shuffle partitioning")],
        "rid long, body string",
    )
    pairs = fuzzy_text_join(
        left, right, right_text_col="body", right_id_col="rid",
        jaccard_threshold=0.5,
    ).collect()
    assert [(r.left_id, r.right_id) for r in pairs] == [(1, 100)]
    assert pairs[0].jaccard_sim >= 0.5


# ------------------------------------------------------- containment_pairs
def test_containment_catches_doc_inside_doc(spark):
    from polaroam_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs_exact,
    )

    quote = "the quick brown fox jumps over the lazy dog " * 3
    wrapper = ("intro text here . " * 40) + quote + (" outro text . " * 40)
    docs = spark.createDataFrame(
        [(1, quote), (2, wrapper), (3, "completely unrelated words only")],
        "doc_id int, text string",
    )
    pairs = containment_pairs(
        docs, n=3, threshold=0.8, max_gram_df=None
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    p = pairs[0]
    assert p.containment >= 0.99  # every gram of the quote is inside
    assert p.n_a < p.n_b
    # and Jaccard at the same threshold misses it — the reason this
    # operator exists
    jac = ngram_jaccard_pairs_exact(docs, n=3, threshold=0.8).collect()
    assert [(p.id_a, p.id_b) for p in jac] == []


def test_containment_threshold_and_ordering(spark):
    from polaroam_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(10, "a b c d e f"), (20, "a b c d x y"), (30, "p q r s t u")],
        "doc_id int, text string",
    )
    # grams(10) = {abc,bcd,cde,def}; grams(20) = {abc,bcd,cdx,dxy};
    # inter = 2, min size = 4 -> containment 0.5
    out = containment_pairs(
        docs, n=3, threshold=0.5, max_gram_df=None
    ).collect()
    assert len(out) == 1 and (out[0].id_a, out[0].id_b) == (10, 20)
    assert abs(out[0].containment - 0.5) < 1e-12
    out2 = containment_pairs(
        docs, n=3, threshold=0.51, max_gram_df=None
    ).collect()
    assert out2 == []


def test_containment_df_cap_is_lower_bound(spark):
    from polaroam_spark.operators.dedup import containment_pairs

    # the shared gram appears in 3 docs; with max_gram_df=2 it is
    # pruned from the index so the pair disappears below threshold —
    # no false positives, possible misses (documented contract)
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "x y z")],
        "doc_id int, text string",
    )
    full = containment_pairs(docs, n=3, threshold=0.9, max_gram_df=None)
    assert full.count() == 3
    capped = containment_pairs(docs, n=3, threshold=0.9, max_gram_df=2)
    assert capped.count() == 0


# ---------------------------------------------------------- semantic dedup
def _emb_rows():
    # three tight paraphrase groups far apart, plus one loner
    base = {
        "g1": [1.0, 0.0, 0.0, 0.0],
        "g2": [0.0, 1.0, 0.0, 0.0],
        "g3": [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    vid = 0
    for _, v in sorted(base.items()):
        for jitter in (0.0, 0.001, 0.002):
            vec = [c + (jitter if i == 3 else 0.0) for i, c in enumerate(v)]
            rows.append((vid, vec))
            vid += 1
    rows.append((99, [0.5, 0.5, 0.5, 0.5]))
    return rows


def _manual_index(spark):
    """Deterministic cluster assignment (one cluster per paraphrase
    group) so pair/survivor assertions are exact — the k-means path's
    hash-rank seeds can legitimately split a tight group across two
    near-identical centroids (the documented boundary-miss trade),
    which the invariant test below covers instead."""
    assignment = spark.createDataFrame(
        [(v, v // 3) for v in range(9)] + [(99, 3)],
        "vec_id int, centroid_id int",
    )
    return None, assignment


def test_semantic_pairs_finds_paraphrase_groups(spark):
    from polaroam_spark.operators.dedup import semantic_pairs

    emb = spark.createDataFrame(_emb_rows(), "vec_id int, embedding array<double>")
    pairs = semantic_pairs(
        emb, threshold=0.999, index=_manual_index(spark)
    ).collect()
    got = {(p.id_a, p.id_b) for p in pairs}
    expected = {
        (g[i], g[j])
        for g in ([0, 1, 2], [3, 4, 5], [6, 7, 8])
        for i in range(3)
        for j in range(i + 1, 3)
    }
    assert got == expected
    assert all(p.cosine >= 0.999 for p in pairs)


def test_semantic_dedup_keeps_min_id_per_group(spark):
    from polaroam_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(_emb_rows(), "vec_id int, embedding array<double>")
    kept = sorted(
        r.vec_id
        for r in semantic_dedup(
            emb, threshold=0.999, index=_manual_index(spark)
        ).collect()
    )
    assert kept == [0, 3, 6, 99]


def test_semantic_dedup_kmeans_path_invariants(spark):
    """The self-built k-means index path: cluster recall is heuristic
    (a group can split across two seeds), so assert the guarantees
    that hold under ANY assignment — no cross-group pairs, survivors
    include the loner and cover every group, and every dropped vector
    has a surviving near-duplicate."""
    from polaroam_spark.operators.dedup import semantic_dedup, semantic_pairs

    emb = spark.createDataFrame(_emb_rows(), "vec_id int, embedding array<double>")
    group = lambda v: v // 3 if v < 9 else 99
    pairs = semantic_pairs(
        emb, num_clusters=4, threshold=0.999, kmeans_iterations=2
    ).collect()
    assert pairs, "tight paraphrase groups must produce some pairs"
    for p in pairs:
        assert group(p.id_a) == group(p.id_b)
        assert p.cosine >= 0.999
    kept = sorted(
        r.vec_id
        for r in semantic_dedup(
            emb, num_clusters=4, threshold=0.999, kmeans_iterations=2
        ).collect()
    )
    assert 99 in kept
    assert {group(v) for v in kept} == {0, 1, 2, 99}
    dropped = set(range(9)) - set(kept)
    pair_map = {(p.id_a, p.id_b) for p in pairs}
    for d in dropped:
        assert any(
            ((k, d) in pair_map or (d, k) in pair_map) for k in kept
        ), d


def test_near_dedup_keep_best_survivor(spark):
    """keep='quality' must pick each duplicate cluster's argmax-
    quality member (ties -> smallest id, NULL scores lowest, all-NULL
    component degrades to min-id); default stays min-id; the greedy
    mode rejects a quality keep."""
    import pytest

    from polaroam_spark.operators.dedup import near_dedup_corpus

    rows = [
        # cluster {1,2,3}: 2 has the best quality
        (1, "the quick brown fox jumps over the lazy dog", 10),
        (2, "the quick brown fox jumps over the lazy dog today", 99),
        (3, "the quick brown fox jumps over a lazy dog", 50),
        # cluster {20,21}: quality tie -> min id (20)
        (20, "pack my box with five dozen liquor jugs now", 7),
        (21, "pack my box with five dozen liquor jugs here", 7),
        # cluster {30,31}: all-NULL quality -> min id (30)
        (30, "sphinx of black quartz judge my vow tonight", None),
        (31, "sphinx of black quartz judge my vow today", None),
        # singleton
        (40, "completely different text about spark engines", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, quality long"
    )
    kw = dict(method="ngram", n=3, threshold=0.3, max_gram_df=None)
    best = sorted(
        r.doc_id
        for r in near_dedup_corpus(docs, keep="quality", **kw).collect()
    )
    assert best == [2, 20, 30, 40]
    default = sorted(
        r.doc_id for r in near_dedup_corpus(docs, **kw).collect()
    )
    assert default == [1, 20, 30, 40]
    with pytest.raises(ValueError, match="transitive"):
        near_dedup_corpus(docs, transitive=False, keep="quality", **kw)


def test_eval_contamination_report(spark):
    """Per-item leakage artifact: an 8-token eval item shared by two
    corpus docs reports (2 docs, 1 gram); a clean item reports zeros;
    a short item matches corpus L-grams against its whole text."""
    from polaroam_spark.operators.dedup import eval_contamination_report

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta other tail"),
            (3, "totally unrelated words here nothing shared at all today"),
            (4, "short answer"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "never seen phrase in any corpus document ever"),
            (102, "short answer"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_corpus_docs, r.n_shared_grams)
        for r in eval_contamination_report(corpus, ev, n=8).collect()
    }
    assert out == {100: (2, 1), 101: (0, 0), 102: (1, 1)}
    # short matching off: the 2-token item reports clean
    off = {
        r.doc_id: r.n_corpus_docs
        for r in eval_contamination_report(
            corpus, ev, n=8, match_short_eval=False
        ).collect()
    }
    assert off[102] == 0 and off[100] == 2



def test_eval_contamination_report_rejects_null_eval_ids(spark):
    """A NULL eval id would fall out of the join-back and report a
    leaked item as clean (None, 0, 0): the report raises instead."""
    from polaroam_spark.operators.dedup import eval_contamination_report

    corpus, ev = _null_id_leak(spark)
    with pytest.raises(ValueError, match="NULL doc_id"):
        eval_contamination_report(corpus, ev, n=3)


# ---- dup-cluster histogram ------------------------------------------


def test_dedup_cluster_histogram(spark):
    from polaroam_spark.operators.dedup import (
        dedup_cluster_histogram,
        dedup_exact,
    )

    docs = spark.createDataFrame(
        [
            (1, "same text"),
            (2, "same text"),
            (3, "same text"),
            (4, "other text"),
            (5, "other text"),
            (6, "unique"),
            (7, None),
            (8, None),
        ],
        "doc_id long, text string",
    )
    hist = {
        r.cluster_size: (r.n_clusters, r.n_docs)
        for r in dedup_cluster_histogram(docs).collect()
    }
    # NULL texts excluded from clustering entirely
    assert hist == {3: (1, 3), 2: (1, 2), 1: (1, 1)}
    removed = sum(d - c for c, d in hist.values())
    survivors = dedup_exact(docs).count()
    assert survivors == docs.count() - removed  # 8 - 3 = 5


def test_dedup_cluster_histogram_normalization_toggle(spark):
    from polaroam_spark.operators.dedup import dedup_cluster_histogram

    docs = spark.createDataFrame(
        [(1, "Hello"), (2, "hello")], "doc_id long, text string"
    )
    norm = {
        r.cluster_size: r.n_clusters
        for r in dedup_cluster_histogram(docs).collect()
    }
    raw = {
        r.cluster_size: r.n_clusters
        for r in dedup_cluster_histogram(
            docs, normalized=False
        ).collect()
    }
    assert norm == {2: 1}  # casefolded: one cluster of two
    assert raw == {1: 2}


# ---- verbatim memorization scan --------------------------------------


def test_memorization_scan_planted_spans(spark):
    """A probe lifted verbatim from a corpus doc reports that doc;
    a synthetic probe reports zeros; a short probe flags too_short."""
    from polaroam_spark.operators.dedup import memorization_scan

    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [
            (10, base),
            (11, "completely different text " * 5),
            # a second doc sharing the planted span
            (12, "prefix junk " + " ".join(f"w{i}" for i in range(5, 20))),
        ],
        "doc_id long, text string",
    )
    span = " ".join(f"w{i}" for i in range(5, 17))  # 12 tokens
    probes = spark.createDataFrame(
        [
            (1, span),                      # planted: in docs 10 and 12
            (2, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10"),  # clean
            (3, "w0 w1 w2"),                # too short for n=8
            (4, None),                      # NULL text == empty probe
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in memorization_scan(corpus, probes, n=8).collect()
    }
    assert len(out) == 4
    p4 = out[4]
    assert p4.too_short and not p4.memorized
    assert p4.n_probe_tokens == 0 and p4.n_probe_grams == 0
    p1 = out[1]
    assert p1.memorized and not p1.too_short
    assert p1.n_probe_tokens == 12 and p1.n_probe_grams == 5
    assert p1.n_memorized_grams == 5
    assert p1.n_corpus_docs == 2
    assert list(p1.matched_doc_ids) == [10, 12]
    p2 = out[2]
    assert not p2.memorized and p2.n_memorized_grams == 0
    assert p2.n_corpus_docs == 0 and list(p2.matched_doc_ids) == []
    assert p2.n_probe_grams == 3
    p3 = out[3]
    assert p3.too_short and not p3.memorized
    assert p3.n_probe_grams == 0 and list(p3.matched_doc_ids) == []


def test_memorization_scan_cap_and_guards(spark):
    import pytest as _pt

    from polaroam_spark.operators.dedup import memorization_scan

    span = " ".join(f"s{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [(i, f"head{i} " + span) for i in range(30)],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(1, span)], "doc_id long, text string"
    )
    r = memorization_scan(
        corpus, probes, n=8, max_match_docs=5
    ).collect()[0]
    # the cap bounds the id list, the count carries the truth
    assert r.n_corpus_docs == 30
    assert list(r.matched_doc_ids) == [0, 1, 2, 3, 4]
    with _pt.raises(ValueError, match="n must be"):
        memorization_scan(corpus, probes, n=1)
    with _pt.raises(ValueError, match="max_match_docs"):
        memorization_scan(corpus, probes, max_match_docs=0)


def test_memorization_scan_verbatim_guarantee(spark):
    """Guarantee: a probe lifted VERBATIM from a corpus document,
    with at least n tokens, is always reported memorized with its
    source among the matched ids — across varied span offsets and
    lengths."""
    from pyspark.sql import functions as F

    from polaroam_spark.functions.text import tokens
    from polaroam_spark.operators.dedup import memorization_scan

    corpus = spark.createDataFrame(
        [
            (i, " ".join(f"d{i}w{j}" for j in range(20 + i)))
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    tk = corpus.select("doc_id", tokens("text").alias("_t"))
    probes = tk.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                "_t",
                (F.col("doc_id") % 5) + 1,          # varied offset
                F.lit(8) + (F.col("doc_id") % 6),   # varied length
            ),
        ).alias("text"),
    )
    out = memorization_scan(corpus, probes, n=8).collect()
    assert len(out) == 12
    for r in out:
        src = r.doc_id - 1000
        assert r.memorized, r
        assert src in list(r.matched_doc_ids), r
        assert r.n_memorized_grams == r.n_probe_grams, r


def test_memorization_scan_null_id_guards(spark):
    """NULL probe ids raise (a memorized probe would silently
    report clean); NULL corpus ids are excluded so they never
    consume a matched_doc_ids cap slot."""
    import pytest as _pt

    from polaroam_spark.operators.dedup import memorization_scan

    span = " ".join(f"g{i}" for i in range(10))
    probes_bad = spark.createDataFrame(
        [(None, span)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, span), (None, span), (2, span), (3, span)],
        "doc_id long, text string",
    )
    with _pt.raises(ValueError, match="NULL doc_id"):
        memorization_scan(corpus, probes_bad, n=8)
    probes = spark.createDataFrame(
        [(100, span)], "doc_id long, text string"
    )
    r = memorization_scan(
        corpus, probes, n=8, max_match_docs=3
    ).collect()[0]
    # the NULL-id doc neither counts nor crowds out doc 3
    assert r.n_corpus_docs == 3
    assert list(r.matched_doc_ids) == [1, 2, 3]


def test_zero_vectors_never_pair_under_either_scorer(spark):
    """An all-zero vector has no direction: the native cosine must
    score it NULL (not abort the job with DIVIDE_BY_ZERO under ANSI)
    and agree with the arrow scorer on every output."""
    from polaroam_spark.operators.similarity import (
        embedding_similarity_join,
    )

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.0]),
            (4, [1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        s: sorted(
            tuple(r)
            for r in embedding_neardup_pairs(emb, scorer=s).collect()
        )
        for s in ("native", "arrow")
    }
    assert pairs["native"] == pairs["arrow"] == [(3, 4, 1.0)]
    joined = {
        s: sorted(
            tuple(r)
            for r in embedding_similarity_join(emb, emb, scorer=s).collect()
        )
        for s in ("native", "arrow")
    }
    assert joined["native"] == joined["arrow"] == [
        (3, 3, 1.0), (3, 4, 1.0), (4, 3, 1.0), (4, 4, 1.0)
    ]


def test_fingerprint_hamming_chunk_bounds(spark):
    """One 64-bit chunk builds its all-ones mask without overflowing a
    long; more chunks than bits (zero-bit chunks: one bucket for every
    document) and widths outside 1..64 are rejected."""
    from polaroam_spark.operators.dedup import fingerprint_hamming_pairs

    fps = spark.createDataFrame(
        [(1, 5), (2, 5), (3, -7), (4, -7), (5, 6), (6, None)],
        "doc_id long, fp long",
    )
    got = fingerprint_hamming_pairs(
        fps, "fp", bits=64, chunks=1, max_hamming=0
    ).collect()
    assert sorted(tuple(r) for r in got) == [(1, 2, 0), (3, 4, 0)]
    for bits, chunks in ((2, 3), (0, 1), (65, 4), (64, 0)):
        with pytest.raises(ValueError, match="chunks <= bits <= 64"):
            fingerprint_hamming_pairs(
                fps, "fp", bits=bits, chunks=chunks, max_hamming=0
            )
