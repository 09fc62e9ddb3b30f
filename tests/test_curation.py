"""End-to-end curation pipeline composition."""

import pyspark.sql.functions as F
import pytest


def test_curate_corpus_stage_composition(spark):
    from polaroam_spark.operators.curation import curate_corpus

    rows = [
        (0, "srcA", "the quick brown fox jumps over the lazy dog today"),
        (1, "srcA", "the quick brown fox jumps over the lazy dog today"),  # dup of 0
        (2, "srcA", "tiny"),                                    # < min_tokens
        (3, "srcB", "a completely different document body with many words here"),
        (4, "srcB", "another unique and long enough document body right here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept, stats = curate_corpus(
        docs, min_tokens=5, dedup="exact", cap_per_source=1
    )
    ids = sorted(r.doc_id for r in kept.collect())
    # 2 dropped (short), 1 dropped (dup of 0), srcB capped to one
    assert 2 not in ids and 1 not in ids
    assert len([i for i in ids if i in (3, 4)]) == 1
    st = {r.stage: r.n_docs for r in stats.collect()}
    assert st["input"] == 5
    assert st["min_tokens"] == 4
    assert st["dedup_exact"] == 3
    assert st["cap_per_source"] == 2
    # stage order preserved by stage_idx
    order = [r.stage for r in stats.orderBy("stage_idx").collect()]
    assert order == ["input", "min_tokens", "dedup_exact", "cap_per_source"]


def test_curate_corpus_transforms_then_filters(spark):
    from polaroam_spark.operators.curation import curate_corpus

    html = ("<html><body><p>This sentence survives the cleaning pass "
            "nicely.</p><script>drop();</script></body></html>")
    docs = spark.createDataFrame(
        [(0, "s", html), (1, "s", "<p>js</p>")],
        "doc_id long, source string, text string",
    )
    kept, stats = curate_corpus(
        docs, strip_html_first=True, min_tokens=4, dedup=None
    )
    out = kept.collect()
    assert [r.doc_id for r in out] == [0]
    assert "<" not in out[0].text and "drop()" not in out[0].text


def test_curate_corpus_validation_and_no_stats(spark):
    from polaroam_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [(0, "s", "x y z")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="unknown dedup"):
        curate_corpus(docs, dedup="fuzzy")
    kept, stats = curate_corpus(docs, dedup=None, with_stats=False)
    assert stats is None and kept.count() == 1


def test_curate_corpus_persist_stages_parity_and_plan(spark):
    """persist_stages=True (r8 verdict #7) must change WHERE the plan
    reads from (per-stage InMemoryRelation caches), never the rows:
    kept membership and per-stage counts are identical to the lazy
    default, and the cached mode's plans read from InMemoryTableScan
    where the default mode's never do."""
    from polaroam_spark.operators.curation import curate_corpus

    rows = [
        (i, "s%d" % (i % 2), ("word " * (5 + i)).strip())
        for i in range(30)
    ]
    rows += rows[:5]  # exact dupes for the dedup stage
    docs = spark.createDataFrame(
        [(i,) + r[1:] for i, r in enumerate(rows)],
        "doc_id long, source string, text string",
    )

    kw = dict(min_tokens=8, dedup="exact", cap_per_source=10,
              sample_rate=0.8)
    kept_lazy, stats_lazy = curate_corpus(docs, **kw)
    # snapshot the lazy results BEFORE the persisted run: Spark's
    # cache manager matches plan fragments, so once the stage caches
    # exist the "lazy" plan would read them too
    lazy_ids = sorted(r.doc_id for r in kept_lazy.collect())
    s_l = {(r.stage, r.n_docs) for r in stats_lazy.collect()}
    plan_l = kept_lazy._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan_l

    kept_p, stats_p = curate_corpus(docs, persist_stages=True, **kw)
    try:
        assert sorted(r.doc_id for r in kept_p.collect()) == lazy_ids
        s_p = {(r.stage, r.n_docs) for r in stats_p.collect()}
        assert s_l == s_p and len(s_l) == 5  # input + 4 stages
        plan_p = kept_p._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan_p
    finally:
        spark.catalog.clearCache()


@pytest.mark.slow
def test_curate_corpus_leakage_safe_split(spark):
    """split_test_fraction (r13): the ladder's output gains a
    'split' column assigned by near-dup component representative —
    both members of a discovered near-dup pair must land on the SAME
    side, and the union must cover exactly the kept rows."""
    from polaroam_spark.operators.curation import curate_corpus

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, "web", f"{base} variant {i} " + "filler " * 5)
            for i in range(40)]
    # two exact near-dup twins of doc 0 (same 3-gram shingles)
    rows += [(100, "web", rows[0][2]), (101, "web", rows[1][2])]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    kept, stats = curate_corpus(
        docs,
        split_test_fraction=0.3,
        split_seed=7,
        dedup=None,
        split_pairs_opts={"jaccard_threshold": 0.8},
    )
    got = {r.doc_id: r.split for r in kept.collect()}
    assert set(got) == {r[0] for r in rows}
    # twins ride with their component representative
    assert got[100] == got[0]
    assert got[101] == got[1]
    srows = {(r.stage, r.n_docs) for r in stats.collect()}
    n_train = sum(1 for s in got.values() if s == "train")
    assert ("split_train", n_train) in srows
    assert ("split_test", len(got) - n_train) in srows


def test_corpus_report_exact_integers(spark):
    """corpus_report: per-source exact-integer data card; the
    distinct-text count uses dedup_exact's normalization key, so
    n_docs - n_distinct_texts equals what that stage would drop."""
    from polaroam_spark.operators.curation import corpus_report
    from polaroam_spark.operators.dedup import dedup_exact

    rows = [
        (1, "web", "alpha beta gamma"),
        (2, "web", "ALPHA   beta gamma "),  # same normalized text
        (3, "web", None),
        (4, "books", "one two"),
        (5, "books", "three four five six"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = {r.source: r for r in corpus_report(docs).collect()}
    web = got["web"]
    assert web.n_docs == 3 and web.n_null_text == 1
    assert web.n_distinct_texts == 1
    assert web.n_tokens == 6 and web.min_doc_tokens == 3
    books = got["books"]
    assert books.n_docs == 2 and books.n_null_text == 0
    assert books.n_tokens == 6
    assert books.min_doc_tokens == 2 and books.max_doc_tokens == 4
    # cross-check the dup arithmetic against dedup_exact itself
    kept = dedup_exact(docs.filter("source = 'web'")).count()
    assert web.n_distinct_texts + (1 if web.n_null_text else 0) >= kept


@pytest.mark.slow
def test_mixture_plan_waterfill(spark):
    """Hand-checked waterfill: feasible = exact shares; capped groups
    take all they have and redistribute; infeasible reports unmet."""
    import pytest

    from polaroam_spark.operators.curation import mixture_plan

    stats = spark.createDataFrame(
        [("web", 1000), ("code", 100), ("books", 50)],
        "source string, n_tokens long",
    )
    p = {
        r.source: r
        for r in mixture_plan(
            stats, 230, {"web": 0.5, "code": 0.3, "books": 0.2}
        ).collect()
    }
    assert p["web"].expected_tokens == pytest.approx(115.0)
    assert p["code"].expected_tokens == pytest.approx(69.0)
    assert p["books"].expected_tokens == pytest.approx(46.0)
    assert not any(r.capped for r in p.values())
    assert all(r.unmet_tokens == 0.0 for r in p.values())

    p = {
        r.source: r
        for r in mixture_plan(
            stats, 400, {"web": 0.2, "code": 0.3, "books": 0.5}
        ).collect()
    }
    assert p["books"].capped and p["books"].rate == 1.0
    assert p["code"].capped and p["code"].expected_tokens == 100.0
    assert not p["web"].capped
    assert p["web"].expected_tokens == pytest.approx(250.0)
    assert sum(r.expected_tokens for r in p.values()) == pytest.approx(400.0)

    p = mixture_plan(stats, 5000, {"web": 1, "code": 1, "books": 1}).collect()
    assert all(r.capped and r.rate == 1.0 for r in p)
    assert p[0].unmet_tokens == pytest.approx(3850.0)

    # a group with no target rides along at rate 0
    p = {
        r.source: r
        for r in mixture_plan(stats, 100, {"web": 1.0}).collect()
    }
    assert p["code"].rate == 0.0 and p["code"].target_share == 0.0
    assert p["web"].expected_tokens == pytest.approx(100.0)

    with pytest.raises(ValueError, match="absent from stats"):
        mixture_plan(stats, 10, {"nope": 1.0})
    with pytest.raises(ValueError, match="duplicate"):
        mixture_plan(stats.union(stats), 10, {"web": 1.0})
    with pytest.raises(ValueError, match="negative"):
        mixture_plan(stats, 10, {"web": -1.0})


def test_mixture_plan_non_string_group(spark):
    """The plan's group field keeps the input column's type — an
    integer source id must not hit a hard-coded 'string' DDL slot
    (ADVICE r14), and the plan must join back in apply_mixture_plan."""
    import pytest

    from polaroam_spark.operators.curation import (
        apply_mixture_plan,
        mixture_plan,
    )

    stats = spark.createDataFrame(
        [(7, 1000), (9, 100)], "src_id long, n_tokens long"
    )
    plan = mixture_plan(
        stats, 200, {7: 0.5, 9: 0.5}, group_col="src_id"
    )
    assert dict(plan.dtypes)["src_id"] == "bigint"
    p = {r.src_id: r for r in plan.collect()}
    assert p[7].expected_tokens == pytest.approx(100.0)
    assert p[9].expected_tokens == pytest.approx(100.0)
    docs = spark.createDataFrame(
        [(i, 7 if i % 2 else 9, "w " * 10) for i in range(100)],
        "doc_id long, src_id long, text string",
    )
    kept = apply_mixture_plan(
        docs, plan, group_col="src_id", id_col="doc_id"
    )
    assert 0 < kept.count() < 100


def test_apply_mixture_plan_membership(spark):
    """Membership is the deterministic hash draw at each group's
    rate — replayable row for row; zero-rate groups vanish."""
    from polaroam_spark.functions.text import portable_hash64
    from polaroam_spark.operators.curation import (
        apply_mixture_plan,
        mixture_plan,
    )

    docs = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else "code", "t") for i in range(400)],
        "doc_id long, source string, text string",
    )
    stats = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    plan = mixture_plan(stats, 150, {"web": 0.8, "code": 0.2})
    kept = apply_mixture_plan(docs, plan, seed=41)
    rates = {r.source: r.rate for r in plan.collect()}
    u = docs.select(
        "doc_id",
        "source",
        (
            portable_hash64(F.col("doc_id").cast("string"), 41).cast(
                "double"
            )
            / float(1 << 60)
        ).alias("u"),
    ).collect()
    want = {r.doc_id for r in u if r.u < rates[r.source]}
    got = {r.doc_id for r in kept.collect()}
    assert got == want and 0 < len(got) < 400
    # exclude a group entirely
    plan2 = mixture_plan(stats, 50, {"web": 1.0})
    kept2 = apply_mixture_plan(docs, plan2, seed=41)
    assert kept2.filter(F.col("source") == "code").count() == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),   # available
            st.floats(min_value=0.0, max_value=1.0),      # raw share
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=60_000),           # budget
)
def test_waterfill_kernel_properties(groups, budget):
    """Waterfill invariants on arbitrary inputs: every allocation in
    [0, available]; conservation (Σalloc + unmet == min(budget,
    targeted available) up to float tolerance); capped groups hold
    exactly their available; uncapped positive-share groups' allocs
    are proportional to their shares."""
    from polaroam_spark.operators.curation import _waterfill

    avail = {f"g{i}": a for i, (a, _) in enumerate(groups)}
    raw = {f"g{i}": s for i, (_, s) in enumerate(groups)}
    total = sum(raw.values())
    if total <= 0:
        return  # mixture_plan rejects this upstream
    share = {g: raw[g] / total for g in raw}
    alloc, capped, unmet = _waterfill(avail, share, float(budget))

    assert set(alloc) == set(avail)
    for g in avail:
        assert -1e-6 <= alloc[g] <= avail[g] + 1e-6
        if share[g] == 0:
            assert alloc[g] == 0.0
    targeted_avail = sum(avail[g] for g in avail if share[g] > 0)
    assert sum(alloc.values()) + unmet == pytest.approx(
        float(budget), abs=1e-6 * max(budget, 1)
    )
    assert sum(alloc.values()) == pytest.approx(
        min(float(budget), float(targeted_avail)),
        abs=1e-6 * max(budget, 1),
    )
    for g in capped:
        assert alloc[g] == pytest.approx(float(avail[g]))
    # uncapped positive-share groups split the residual by share
    live = [
        g for g in avail
        if g not in capped and share[g] > 0 and alloc[g] > 0
    ]
    if len(live) >= 2:
        # cross-products, not ratios: a denormal share makes
        # alloc/share overflow while the proportionality itself holds
        ref = live[0]
        for g in live[1:]:
            lhs = alloc[g] * share[ref]
            rhs = alloc[ref] * share[g]
            assert lhs == pytest.approx(
                rhs, rel=1e-6, abs=1e-9 * max(budget, 1)
            )


def test_mixture_report_whitespace(spark):
    """Achieved-vs-target data card in the planner's own currency:
    counts recomputed by hand, rate-0 groups present with zeros,
    achieved shares sum to 1, error columns consistent."""
    from polaroam_spark.operators.curation import (
        apply_mixture_plan,
        mixture_plan,
        mixture_report,
    )
    from polaroam_spark.operators.textstats import token_count

    rows = [
        (i, "web", "alpha beta gamma delta " * (1 + i % 3))
        for i in range(40)
    ] + [
        (100 + i, "code", "def f(): return x + y " * 2)
        for i in range(20)
    ] + [(200 + i, "books", "chapter one text") for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    stats = docs.groupBy("source").agg(
        F.sum(token_count("text")).alias("n_tokens")
    )
    plan = mixture_plan(
        stats, 300, {"web": 0.7, "code": 0.3}
    )  # books absent -> rate 0
    sampled = apply_mixture_plan(docs, plan)
    rep = {
        r.source: r for r in mixture_report(sampled, plan).collect()
    }
    assert set(rep) == {"web", "code", "books"}
    assert rep["books"].rate == 0.0
    assert rep["books"].achieved_docs == 0
    assert rep["books"].achieved_tokens == 0
    # recount by hand
    manual = {
        s: (len(rs), sum(len(t.split()) for _, _, t in rs))
        for s, rs in (
            (
                src,
                [
                    (d, s, t)
                    for d, s, t in sampled.collect()
                    if s == src
                ],
            )
            for src in ("web", "code")
        )
    }
    for s in ("web", "code"):
        assert rep[s].achieved_docs == manual[s][0]
        assert rep[s].achieved_tokens == manual[s][1]
    total = sum(r.achieved_tokens for r in rep.values())
    for s, r in rep.items():
        assert r.achieved_share == pytest.approx(
            r.achieved_tokens / total
        )
        assert r.token_error == pytest.approx(
            r.achieved_tokens - r.expected_tokens
        )
        assert r.share_error == pytest.approx(
            r.achieved_share - r.target_share
        )


@pytest.mark.slow
def test_mixture_report_model_dispatch(spark):
    """The report counts in the model's exact currency: the
    byte-identity BPE model yields byte counts, a char-identity
    unigram model yields char counts; NULL texts count as docs but
    contribute no tokens."""
    import math

    from polaroam_spark.operators.curation import mixture_report
    from polaroam_spark.operators.tokenize import _BYTE_TO_UNI

    docs = spark.createDataFrame(
        [
            (1, "a", "héllo"),   # 5 chars, 6 bytes
            (2, "a", None),
            (3, "b", "xy"),
        ],
        "doc_id long, source string, text string",
    )
    plan = spark.createDataFrame(
        [("a", 0.5, 1.0, 6.0), ("b", 0.5, 1.0, 2.0)],
        "source string, target_share double, rate double, "
        "expected_tokens double",
    )
    bpe_ident = {
        "vocab": {u: b for b, u in _BYTE_TO_UNI.items()},
        "merges": [],
    }
    rep = {
        r.source: r
        for r in mixture_report(docs, plan, model=bpe_ident).collect()
    }
    assert rep["a"].achieved_docs == 2
    assert rep["a"].achieved_tokens == 6  # bytes, NULL adds none
    assert rep["b"].achieved_tokens == 2
    chars = sorted(set("hélloxy"))
    uni_ident = {
        "type": "unigram",
        "vocab": {f"<0x{b:02X}>": b for b in range(256)}
        | {c: 256 + i for i, c in enumerate(chars)},
        "scores": {c: -math.log(len(chars)) for c in chars},
        "max_piece_length": 1,
    }
    rep_u = {
        r.source: r
        for r in mixture_report(docs, plan, model=uni_ident).collect()
    }
    assert rep_u["a"].achieved_tokens == 5  # chars
    assert rep_u["b"].achieved_tokens == 2


@pytest.mark.slow
def test_curate_corpus_langid_and_perplexity_stages(spark):
    """The r15 CCNet-ladder composition: a trained langid gate keeps
    only the requested language classes (NULL predictions drop), and
    the KN perplexity gate keeps the fluent-under-reference tail;
    stats rows appear in execution order."""
    from polaroam_spark.operators.curation import curate_corpus
    from polaroam_spark.operators.langid import train_langid

    en = " the of and to is that it for"
    es = " el que y un por con los para"
    train = spark.createDataFrame(
        [(i, ("en" if i % 2 == 0 else "es"),
          ("doc %d" % i) + (en if i % 2 == 0 else es) * 10)
         for i in range(40)],
        "doc_id long, language string, text string",
    )
    model = train_langid(
        train, num_buckets=256, n_iter=10, learning_rate=5.0
    )

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog ran to the rug")
         for i in range(4)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "a", "the cat sat on the mat" + en * 5),   # en, fluent
            (2, "a", "el que y un por con" + es * 5),      # es
            (3, "a", "zzz qqq www eee rrr ttt" + en * 5),  # en, OOV-ish
            (4, "a", None),                                 # NULL drops
        ],
        "doc_id long, source string, text string",
    )
    kept, stats = curate_corpus(
        docs,
        langid_model=model,
        keep_languages=["en"],
        dedup=None,
    )
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3]
    st = {r.stage: r.n_docs for r in stats.collect()}
    assert st["input"] == 4 and st["langid"] == 2

    kept2, stats2 = curate_corpus(
        docs,
        langid_model=model,
        keep_languages=["en"],
        perplexity_reference=ref,
        perplexity_threshold=-2.8,
        dedup=None,
    )
    ids2 = sorted(r.doc_id for r in kept2.collect())
    assert ids2 == [1]  # doc 3's OOV soup mean sits below -2.8
    st2 = {r.stage: r.n_docs for r in stats2.collect()}
    assert st2["langid"] == 2 and st2["perplexity"] == 1

    import pytest

    with pytest.raises(ValueError, match="BOTH langid_model"):
        curate_corpus(docs, langid_model=model, dedup=None)
    with pytest.raises(
        ValueError, match="perplexity_reference AND one of"
    ):
        curate_corpus(docs, perplexity_reference=ref, dedup=None)
    with pytest.raises(ValueError, match="not in the model"):
        curate_corpus(
            docs, langid_model=model, keep_languages=["fr"],
            dedup=None,
        )


@pytest.mark.slow
def test_curate_corpus_perplexity_buckets(spark):
    """The CCNet bucket gate inside curate_corpus: keeps exactly
    the rows whose per-group bucket is in the keep list, matching
    a direct perplexity_buckets replay; threshold+buckets together
    is loud; bad labels are loud."""
    import pytest

    from pyspark.sql import functions as F

    from polaroam_spark.operators.curation import curate_corpus
    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
        perplexity_buckets,
    )

    base = [
        "the cat sat on the mat",
        "the dog sat on the mat",
        "the cat ran to the dog",
        "a completely different sentence structure here",
        "zx qv jk wp mn bl totally out of domain tokens",
        "the mat sat on the cat and the dog",
    ]
    rows = [
        (i * 10 + j, t + f" variant {j}", ["en", "de"][i % 2], "w")
        for i, t in enumerate(base)
        for j in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ref = docs.filter(F.col("doc_id") % 3 == 0)

    kept, stats = curate_corpus(
        docs,
        dedup=None,
        perplexity_reference=ref,
        perplexity_keep_buckets=("head", "middle"),
        perplexity_group_col="lang",
    )
    got = {r.doc_id for r in kept.collect()}

    scored = kn_ngram_logprob_vs_reference(docs, ref, order=3)
    labeled = perplexity_buckets(scored, group_col="lang")
    want = {
        r.doc_id
        for r in labeled.filter(
            F.col("perplexity_bucket").isin(["head", "middle"])
        ).collect()
    }
    assert got == want and got
    st = {r.stage: r.n_docs for r in stats.collect()}
    assert st["perplexity_buckets"] == len(want)

    with pytest.raises(ValueError, match="mutually exclusive"):
        curate_corpus(
            docs,
            dedup=None,
            perplexity_reference=ref,
            perplexity_threshold=-5.0,
            perplexity_keep_buckets=("head",),
        )
    with pytest.raises(ValueError, match="head/middle/tail"):
        curate_corpus(
            docs,
            dedup=None,
            perplexity_reference=ref,
            perplexity_keep_buckets=("best",),
        )


def test_curate_entropy_and_compression_stages(spark):
    from polaroam_spark.operators.curation import curate_corpus

    prose = (
        "the quick brown fox jumps over a lazy dog while many "
        "different words appear exactly once in this sentence"
    )
    spam = "buy cheap now " * 30
    pasted = (
        "This unique paragraph mentions astronomy cooking sailing "
        "medieval history and several other unrelated topics. "
    ) * 40
    docs = spark.createDataFrame(
        [(1, prose, "a"), (2, spam, "a"), (3, pasted, "a")],
        "doc_id long, text string, source string",
    )
    kept, stats = curate_corpus(
        docs,
        min_token_entropy=2.0,
        dedup=None,
    )
    ids = {r.doc_id for r in kept.collect()}
    assert 2 not in ids and 1 in ids  # spam entropy < 2 bits
    names = [r.stage for r in stats.collect()]
    assert "token_entropy" in names

    kept2, stats2 = curate_corpus(
        docs,
        min_compression_ratio=0.2,
        dedup=None,
    )
    ids2 = {r.doc_id for r in kept2.collect()}
    assert 3 not in ids2 and 1 in ids2  # pasted deflates below 0.2
    assert "compression" in [r.stage for r in stats2.collect()]


def test_curate_entropy_drops_null_and_empty(spark):
    from polaroam_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [(1, "several distinct words right here", "a"),
         (2, None, "a"), (3, "   ", "a")],
        "doc_id long, text string, source string",
    )
    kept, _ = curate_corpus(
        docs, min_token_entropy=0.0, dedup=None, with_stats=False
    )
    assert {r.doc_id for r in kept.collect()} == {1}


# ---- host-level data card --------------------------------------------


def test_domain_report_counts(spark):
    from polaroam_spark.operators.curation import domain_report

    rows = [
        (1, "https://www.ex.com/a", "one two three", 0.5, True),
        (2, "https://cdn.ex.com/b", "one two", 0.7, False),
        (3, "https://ex.org/c", "one two three", None, True),
        (4, "https://ex.org/d", None, float("nan"), False),
        (5, None, "unattributed doc", 1.0, True),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, url string, text string, q double, kept boolean",
    )
    out = {
        r.registered_domain: r
        for r in domain_report(
            df, quality_col="q", kept_col="kept"
        ).collect()
    }
    com = out["ex.com"]
    assert com.n_docs == 2 and com.n_hosts == 2
    assert com.n_tokens == 5 and com.n_distinct_texts == 2
    assert com.n_scored == 2
    assert abs(com.mean_quality - 0.6) < 1e-12
    assert com.n_kept == 1
    org = out["ex.org"]
    assert org.n_docs == 2 and org.n_hosts == 1
    assert org.n_null_text == 1
    # NaN quality is excluded, not averaged in
    assert org.n_scored == 0 and org.mean_quality is None
    # the unattributable bucket is reported under NULL
    null_b = out[None]
    assert null_b.n_docs == 1 and null_b.n_kept == 1
    # base card stays exact-integer when optional columns are off
    base_cols = domain_report(df).columns
    assert "mean_quality" not in base_cols
    assert "n_kept" not in base_cols


def test_domain_report_psl_site_keys(spark):
    from polaroam_spark.operators.curation import domain_report

    df = spark.createDataFrame(
        [
            (1, "https://a.site1.co.uk/x", "t"),
            (2, "https://b.site2.co.uk/y", "t"),
        ],
        "doc_id long, url string, text string",
    )
    psl = spark.createDataFrame(
        [("com",), ("uk",), ("co.uk",)], "suffix string"
    )
    naive = {
        r.registered_domain
        for r in domain_report(df).collect()
    }
    assert naive == {"co.uk"}  # the coarse rule merges both sites
    accurate = {
        r.registered_domain
        for r in domain_report(df, suffix_list=psl).collect()
    }
    assert accurate == {"site1.co.uk", "site2.co.uk"}


def test_domain_report_feeds_mixture_plan(spark):
    """The card composes directly into the waterfill planner keyed
    on the domain — the per-domain-cap flow end to end."""
    from polaroam_spark.operators.curation import (
        domain_report,
        mixture_plan,
    )

    rows = []
    for i in range(40):
        dom = "big.com" if i % 4 else "small.org"
        rows.append(
            (i, f"https://h{i % 3}.{dom}/p", "tok " * (5 + i % 7))
        )
    df = spark.createDataFrame(
        rows, "doc_id long, url string, text string"
    )
    card = domain_report(df)
    plan = mixture_plan(
        card,
        token_budget=100,
        targets={"big.com": 0.5, "small.org": 0.5},
        group_col="registered_domain",
    )
    got = {r.registered_domain: r for r in plan.collect()}
    assert set(got) == {"big.com", "small.org"}
    for r in got.values():
        assert 0.0 <= r.rate <= 1.0
        assert r.available_tokens > 0


def test_curate_corpus_decontaminate_uses_id_col(spark):
    """The decontamination stage keys documents by the caller's
    ``id_col`` like every other stage; a frame without ``doc_id``
    must not fail on an unresolved default column."""
    from polaroam_spark.operators.curation import curate_corpus

    leak = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (10, "prefix " + leak + " suffix"),
            (11, "an entirely clean document with nothing from the eval"),
        ],
        "uid long, text string",
    )
    ev = spark.createDataFrame([(0, leak)], "doc_id long, text string")
    kept, _ = curate_corpus(
        docs,
        id_col="uid",
        dedup=None,
        decontaminate_against=ev,
        with_stats=False,
    )
    assert [r.uid for r in kept.collect()] == [11]
