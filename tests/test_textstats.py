"""Text analysis operators: counts, quality, language ID, fingerprints."""

import pyspark.sql.functions as F
import pytest

from polaroam_spark.operators.textstats import (
    bpe_ish_token_count,
    detect_language,
    document_fingerprint,
    quality_features,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog slept in the sun"),
        (1, "el perro corre por la calle y el gato duerme en la casa"),
        (2, "12345 67890 11111 22222 33333"),
        (3, "x"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    out = {r.doc_id: r.n for r in docs.select(
        "doc_id", token_count("text").alias("n")).collect()}
    assert out[0] == 13
    assert out[3] == 1


def test_bpe_ish_count(spark):
    df = spark.createDataFrame([(0, "hello, world42!")], "i long, text string")
    n = df.select(bpe_ish_token_count("text").alias("n")).first().n
    # hello / , / world / 42 / !
    assert n == 5


def test_language_id(docs):
    out = {
        r.doc_id: r.lang
        for r in docs.select(
            "doc_id", detect_language("text").alias("lang")
        ).collect()
    }
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "und"  # digits only -> no stopword hits


def test_quality_score_ordering(docs):
    out = {
        r.doc_id: r.quality_score
        for r in quality_features(docs).collect()
    }
    # prose beats digit-soup beats single char
    assert out[0] > out[2]
    assert out[0] > out[3]
    assert all(0.0 <= v <= 1.0 for v in out.values())


def test_fingerprint_stability_and_normalization(spark):
    df = spark.createDataFrame(
        [
            (0, "Hello   World this is a test of fingerprints"),
            (1, "hello world this is a test of fingerprints"),
            (2, "entirely different content in this document here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in document_fingerprint(df).collect()}
    assert out[0].md5_fingerprint == out[1].md5_fingerprint
    assert out[0].md5_fingerprint != out[2].md5_fingerprint
    assert out[0].rolling_fingerprint == out[1].rolling_fingerprint


def test_unigram_logprob_ranks_common_over_rare(spark):
    import math

    from polaroam_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame(
        [
            (0, "common common common common"),
            (1, "common rare"),
            (2, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.mean_logprob for r in unigram_logprob(df).collect()}
    # corpus: 'common' x5, 'rare' x1, total 6
    p_c, p_r = 5 / 6, 1 / 6
    assert abs(out[0] - math.log(p_c)) < 1e-12
    assert abs(out[1] - (math.log(p_c) + math.log(p_r)) / 2) < 1e-12
    assert out[2] is None  # no tokens -> NULL
    assert out[0] > out[1]  # all-common beats common+rare


# ------------------------------------------------ winsorize / robust scale
def test_winsorize_clamps_tails_per_stratum(spark):
    from polaroam_spark.operators.textstats import winsorize_scores

    rows = [("a", float(i)) for i in range(1, 101)]  # 1..100
    rows += [("b", 5.0), ("b", 5.0), ("b", 5.0)]
    rows += [("a", None)]
    df = spark.createDataFrame(rows, "source string, score double")
    out = winsorize_scores(
        df, "score", "source", lower=0.10, upper=0.90
    ).collect()
    a = [r for r in out if r.source == "a" and r.score is not None]
    # exact percentile of 1..100 at 0.10 = 10.9, at 0.90 = 90.1
    assert abs(min(r.winsorized_score for r in a) - 10.9) < 1e-9
    assert abs(max(r.winsorized_score for r in a) - 90.1) < 1e-9
    mid = next(r for r in a if r.score == 50.0)
    assert mid.winsorized_score == 50.0
    # constant stratum: clamp is identity
    assert all(
        r.winsorized_score == 5.0 for r in out if r.source == "b"
    )
    # NULL stays NULL
    assert next(
        r for r in out if r.score is None
    ).winsorized_score is None


def test_robust_scale_median_iqr(spark):
    from polaroam_spark.operators.textstats import robust_scale_scores

    rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
    rows += [("b", 7.0), ("b", 7.0)]  # IQR 0 -> NULL
    df = spark.createDataFrame(rows, "source string, score double")
    out = robust_scale_scores(df, "score", "source").collect()
    a = {r.score: r.scaled_score for r in out if r.source == "a"}
    # median 3, p25 = 2, p75 = 4 -> iqr 2
    assert a[3.0] == 0.0 and a[5.0] == 1.0 and a[1.0] == -1.0
    assert all(r.scaled_score is None for r in out if r.source == "b")


def test_winsorize_and_scale_treat_nan_as_null(spark):
    """A NaN from a failed scorer must not skew the percentile bounds
    or come back as a legitimate-looking clamped score (it used to be
    laundered into the upper bound)."""
    from polaroam_spark.operators.textstats import (
        robust_scale_scores,
        winsorize_scores,
    )

    rows = [("a", float(i)) for i in range(1, 11)]
    rows.append(("a", float("nan")))
    df = spark.createDataFrame(rows, "source string, score double")
    out = winsorize_scores(df, "score", "source", 0.10, 0.90).collect()
    import math

    nan_row = next(r for r in out if r.score is not None and math.isnan(r.score))
    assert nan_row.winsorized_score is None
    # bounds computed over the 10 real scores only: p10 of 1..10 = 1.9
    real = [r for r in out if r.score is not None and not math.isnan(r.score)]
    assert abs(min(r.winsorized_score for r in real) - 1.9) < 1e-9
    scaled = robust_scale_scores(df, "score", "source").collect()
    nan_row = next(
        r for r in scaled if r.score is not None and math.isnan(r.score)
    )
    assert nan_row.scaled_score is None
    # median 5.5, IQR = 7.75 - 3.25 = 4.5, unpolluted by the NaN
    mid = next(r for r in scaled if r.score == 5.5 or r.score == 5.0)
    assert mid.scaled_score is not None


def test_winsorize_robust_approx_knob(spark):
    """The r19 approx path (the perplexity_buckets t55 pattern):
    mergeable percentile_approx cuts as a #strata aggregate, never a
    per-row window frame. On a 90/10-skewed fixture the clamped /
    scaled outputs agree with exact within the sliver bound, and
    NULL/NaN semantics are identical across paths."""
    import math

    import pytest as _pt
    from pyspark.sql import functions as F

    from polaroam_spark.operators.textstats import (
        robust_scale_scores,
        winsorize_scores,
    )

    rows = [("big", (i * 37 % 1000) / 1000.0) for i in range(900)]
    rows += [("small", (i * 91 % 500) / 500.0) for i in range(100)]
    rows += [("big", None), ("big", float("nan"))]
    df = spark.createDataFrame(rows, "source string, score double")
    w = winsorize_scores(df, "score", "source", 0.05, 0.95, "we")
    w = winsorize_scores(
        w, "score", "source", 0.05, 0.95, "wa", accuracy="approx"
    )
    r = robust_scale_scores(w, "score", "source", "re")
    r = robust_scale_scores(
        r, "score", "source", "ra", accuracy="approx"
    ).collect()
    for row in r:
        bad = row.score is None or math.isnan(row.score)
        if bad:
            assert row.we is None and row.wa is None
            assert row.re is None and row.ra is None
    good = [x for x in r if x.score is not None and not math.isnan(x.score)]
    # clamp DECISIONS agree outside the sliver between the exact and
    # sketch bounds (clamped VALUES legitimately differ by the cut
    # shift for every clamped row, so value equality is not the
    # contract — the decision is)
    n_w_dis = sum(
        1
        for x in good
        if (abs(x.we - x.score) > 1e-12)
        != (abs(x.wa - x.score) > 1e-12)
    )
    n_r_dis = sum(1 for x in good if (x.re > 0) != (x.ra > 0))
    assert n_w_dis <= max(4, len(good) // 100)
    assert n_r_dis <= max(4, len(good) // 100)
    # any value difference is confined to clamped rows
    for x in good:
        if abs(x.we - x.wa) > 1e-9:
            assert (
                abs(x.we - x.score) > 1e-12
                or abs(x.wa - x.score) > 1e-12
            )
    with _pt.raises(ValueError, match="accuracy"):
        winsorize_scores(df, "score", "source", accuracy="bogus")
    with _pt.raises(ValueError, match="accuracy"):
        robust_scale_scores(df, "score", "source", accuracy="nope")


def test_winsorize_robust_plan_no_window_frame(spark):
    """Both paths now compute cuts as ONE hash aggregation broadcast
    back — the per-row exact-percentile window frame (the r18 OOM
    shape perplexity_buckets eliminated) must be gone from the plan
    for exact AND approx."""
    from polaroam_spark.operators.textstats import (
        robust_scale_scores,
        winsorize_scores,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)],
        "source string, score double",
    )
    for fn, kw in (
        (winsorize_scores, {}),
        (winsorize_scores, {"accuracy": "approx"}),
        (robust_scale_scores, {}),
        (robust_scale_scores, {"accuracy": "approx"}),
    ):
        plan = (
            fn(df, "score", "source", **kw)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan, (fn.__name__, kw)
        assert "BroadcastHashJoin" in plan, (fn.__name__, kw)


def test_duplicated_span_stats(spark):
    from polaroam_spark.operators.textstats import duplicated_span_stats

    shared = " ".join(f"w{i}" for i in range(25))  # 25 shared tokens
    uniq_a = " ".join(f"a{i}" for i in range(30))
    uniq_b = " ".join(f"b{i}" for i in range(30))
    rows = [
        (1, shared + " " + uniq_a),   # 55 tokens, spans at 0,10,20,30
        (2, shared + " " + uniq_b),   # same head -> span@0 duplicated
        (3, "tiny doc"),              # under window -> no spans
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for portable in (True, False):
        out = {
            r.doc_id: r
            for r in duplicated_span_stats(
                df, window=20, stride=10, portable=portable
            ).collect()
        }
        # doc 1: starts 0,10,20,30 -> 4 spans; only span@0 (pure
        # shared prefix) also occurs in doc 2; span@10 mixes shared
        # tail with unique tokens
        assert out[1].n_spans == 4
        assert out[1].n_dup_spans == 1
        assert abs(out[1].dup_span_ratio - 0.25) < 1e-12
        assert out[2].n_dup_spans == 1
        assert out[3].n_spans == 0 and out[3].dup_span_ratio is None
        assert out[4].n_spans == 0 and out[4].dup_span_ratio is None


def test_duplicated_span_self_repetition_counts(spark):
    from polaroam_spark.operators.textstats import duplicated_span_stats

    looped = " ".join(["x"] * 40)  # every 20-token window identical
    df = spark.createDataFrame([(1, looped)], "doc_id int, text string")
    r = duplicated_span_stats(df, window=20, stride=10).first()
    # starts 0,10,20 -> 3 identical spans, all duplicated
    assert r.n_spans == 3 and r.n_dup_spans == 3
    assert r.dup_span_ratio == 1.0


def test_dedup_spans_keep_first_and_mask_union(spark):
    from polaroam_spark.operators.textstats import dedup_spans

    dup = " ".join(f"w{i}" for i in range(25))
    uniq1 = " ".join(f"a{i}" for i in range(30))
    uniq2 = " ".join(f"b{i}" for i in range(30))
    rows = [
        (1, uniq1 + " " + dup),          # first occurrence -> kept
        (2, dup + " " + uniq2),          # later occurrence -> masked
        (3, "short doc"),                # under window -> untouched
        (4, uniq2 + " tail goes here"),  # uniq2's first copy is doc 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_spans(df, window=10, stride=5).collect()}
    # doc 1 owns every first occurrence: nothing removed
    assert out[1].n_spans_removed == 0
    assert out[1].n_tokens_after == out[1].n_tokens_before == 55
    # doc 2: the dup passage (25 tokens, spans@0,5,10,15) masks
    # tokens [0,25); uniq2 side survives
    assert out[2].n_spans_removed == 4
    assert out[2].n_tokens_after == 30
    assert out[2].text.startswith("b0 b1 ")
    # doc 3: no spans, text passes through (whitespace-normalized)
    assert out[3].n_spans_removed == 0 and out[3].text == "short doc"
    # doc 4: its uniq2 copy is a LATER occurrence (doc 2 < doc 4)
    assert out[4].n_tokens_after == 3 and out[4].text == "tail goes here"


def test_dedup_spans_case_insensitive_key_keeps_original_case(spark):
    from polaroam_spark.operators.textstats import dedup_spans

    passage = " ".join(f"T{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, passage), (2, passage.lower())],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_spans(df, window=10, stride=5).collect()}
    # span keys are case-folded: doc 2 is a duplicate of doc 1
    assert out[1].n_spans_removed == 0 and out[1].text.startswith("T0 T1")
    assert out[2].n_spans_removed == 1 and out[2].n_tokens_after == 2

    import pytest

    with pytest.raises(ValueError):
        dedup_spans(df, window=1)


def test_dedup_spans_null_ids_dropped(spark):
    """NULL doc_ids are dropped up front (documented policy): a null
    id must neither claim first-occurrence ownership (Spark's struct
    ordering would sort it FIRST, a SQL oracle's ORDER BY would sort
    it LAST) nor appear in the output."""
    from polaroam_spark.operators.textstats import dedup_spans

    dup = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(None, dup), (2, dup), (3, dup)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup_spans(df, window=10, stride=5).collect()}
    assert set(out) == {2, 3}
    # doc 2 is the first NON-NULL occurrence: kept intact
    assert out[2].n_spans_removed == 0 and out[2].n_tokens_after == 12
    assert out[3].n_spans_removed > 0


def _py_dedup_spans(docs, window, stride):
    """Pure-Python reference of dedup_spans' contract."""
    toks = {d: t.split() for d, t in docs if d is not None}
    occ = []  # (key, doc, start)
    for d, ts in toks.items():
        if len(ts) >= window:
            for s in range(0, len(ts) - window + 1, stride):
                key = " ".join(w.lower() for w in ts[s:s + window])
                occ.append((key, d, s))
    from collections import defaultdict

    by_key = defaultdict(list)
    for key, d, s in occ:
        by_key[key].append((d, s))
    removed = defaultdict(list)
    for key, lst in by_key.items():
        if len(lst) > 1:
            first = min(lst)
            for d, s in lst:
                if (d, s) != first:
                    removed[d].append(s)
    out = {}
    for d, ts in toks.items():
        rm = sorted(removed.get(d, []))
        kept = [
            w for i, w in enumerate(ts)
            if not any(s <= i < s + window for s in rm)
        ]
        out[d] = (" ".join(kept), len(ts), len(kept), len(rm))
    return out


def test_dedup_spans_randomized_differential(spark):
    """Random small-vocab corpora (forced span collisions) vs the
    pure-Python reference — keep-first ownership, range-union
    masking, and text rebuild must agree exactly."""
    import random

    from polaroam_spark.operators.textstats import dedup_spans

    for seed in (3, 17, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(8)]
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
            for d in range(12)
        ]
        expected = _py_dedup_spans(docs, window=5, stride=2)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.text, r.n_tokens_before, r.n_tokens_after,
                       r.n_spans_removed)
            for r in dedup_spans(df, window=5, stride=2).collect()
        }
        assert got == expected, seed


def test_url_features_parses_and_nulls(spark):
    from polaroam_spark.operators.textstats import url_features

    rows = [
        (0, "https://www.news.example.co.uk/a/b/c?q=1"),
        (1, "http://example.com"),
        (2, "ftp://files.example.org/pub/"),
        (3, "not a url"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {
        r.id: r
        for r in df.select("id", url_features("url").alias("u"))
        .select("id", "u.*")
        .collect()
    }
    assert out[0].scheme == "https" and out[0].host == "www.news.example.co.uk"
    # documented NAIVE last-two-labels rule (coarser than the PSL)
    assert out[0].registered_domain == "co.uk" and out[0].tld == "uk"
    assert out[0].path_depth == 3 and out[0].has_query is True
    assert out[1].host == "example.com" and out[1].path_depth == 0
    assert out[1].registered_domain == "example.com"
    assert out[1].has_query is False
    assert out[2].scheme == "ftp" and out[2].path_depth == 1
    assert out[3].host is None and out[4].host is None


def test_filter_by_domain_block_and_allow(spark):
    from polaroam_spark.operators.textstats import filter_by_domain

    docs = spark.createDataFrame(
        [
            (0, "https://good.example.com/x"),
            (1, "https://sub.spam.net/y"),
            (2, "https://SPAM.NET/z"),          # case-insensitive
            (3, "totally-not-a-url"),           # NULL domain
        ],
        "doc_id long, url string",
    )
    block = spark.createDataFrame([("spam.net",)], "domain string")
    kept = sorted(
        r.doc_id for r in filter_by_domain(docs, block).collect()
    )
    # malformed URL (NULL domain) is KEPT on blocklist mode
    assert kept == [0, 3]
    allowed = sorted(
        r.doc_id
        for r in filter_by_domain(docs, block, keep=True).collect()
    )
    assert allowed == [1, 2]
    # a 0-row list raises (blocks nothing / keeps nothing — both
    # are upstream bugs, the badword_stats rule)
    import pytest as _pt

    with _pt.raises(ValueError, match="empty domain list"):
        filter_by_domain(docs, block.limit(0))


def test_strip_html_drops_script_contents_and_tags(spark):
    from polaroam_spark.operators.textstats import strip_html

    rows = [
        (0, "<html><head><style>p {color:red}</style>"
            "<script type='text/js'>var x = '<secret>';</script></head>"
            "<body><h1>Title</h1><p>Hello <b>world</b> &amp; friends"
            "</p><!-- hidden comment --></body></html>"),
        (1, "plain text stays"),
        (2, "a &lt;tag&gt; literal &nbsp; here"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    out = {r.id: r.t for r in df.select(
        "id", strip_html("html").alias("t")).collect()}
    assert out[0] == "Title Hello world & friends"
    assert "secret" not in out[0] and "color" not in out[0]
    assert out[1] == "plain text stays"
    assert out[2] == 'a <tag> literal here'
    assert out[3] is None


def test_c4_line_filter_rules(spark):
    from polaroam_spark.operators.textstats import c4_line_filter

    text = "\n".join([
        "This is a proper sentence.",          # kept
        "too short.",                          # < 3 words
        "No terminal punctuation here",        # no .!?"
        "Please enable JavaScript to view.",   # drop phrase
        "We use cookie banners everywhere.",   # drop phrase
        'He said "stop right there!"',         # kept (quote ending)
        "",                                    # empty
    ])
    df = spark.createDataFrame(
        [(0, text), (1, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in c4_line_filter(df).collect()}
    kept = out[0].text_filtered.split("\n")
    assert kept == [
        "This is a proper sentence.",
        'He said "stop right there!"',
    ]
    assert out[0].n_lines_before == 7 and out[0].n_lines_kept == 2
    assert out[1].text_filtered is None and out[1].n_lines_before == 0


def test_bigram_logprob_word_order_sensitivity(spark):
    """The signal bigram adds over unigram: identical word
    MULTISETS, different orders -> the in-order doc scores higher."""
    import math

    from polaroam_spark.operators.textstats import bigram_logprob

    base = "the cat sat on the mat " * 4
    shuffled = "mat the on sat the cat " + "cat mat the sat on the " * 3
    df = spark.createDataFrame(
        [(0, base.strip()), (1, shuffled.strip()), (2, "one"), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.mean_bigram_logprob for r in bigram_logprob(df).collect()}
    assert out[0] > out[1]
    assert out[2] is None and out[3] is None  # <2 tokens -> NULL
    assert all(v < 0 for v in (out[0], out[1]))

    # hand-check a tiny corpus: "a b a b" alone
    tiny = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    v = bigram_logprob(tiny).first().mean_bigram_logprob
    # bigrams: (a,b)x2, (b,a)x1; c1: a->2, b->1; uni: a2 b2, N=4
    exp = (
        math.log(0.75 * (2 / 2) + 0.25 * (2 / 4))       # a b
        + math.log(0.75 * (1 / 1) + 0.25 * (2 / 4))     # b a
        + math.log(0.75 * (2 / 2) + 0.25 * (2 / 4))     # a b
    ) / 3
    assert abs(v - exp) < 1e-12



def test_mojibake_stats_detects_double_decode(spark):
    from polaroam_spark.operators.textstats import mojibake_stats

    mangled_e = "\u00c3\u00a9"          # UTF-8 e-acute read as Latin-1
    mangled_q = "\u00e2\u20ac\u2122"   # UTF-8 right-quote read as cp1252
    rows = [
        (0, f"caf{mangled_e} menu {mangled_q}quoted"),
        (1, "clean caf\u00e9 text with r\u00e9al accents"),
        (2, "hard\ufffdfail\ufffd"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in mojibake_stats(df).collect()}
    assert out[0].n_mojibake == 2 and out[0].mojibake_ratio > 0
    assert out[1].n_mojibake == 0
    assert out[2].n_mojibake == 2
    assert out[3].n_mojibake == 0 and out[3].mojibake_ratio is None
    assert out[4].n_mojibake == 0 and out[4].mojibake_ratio is None


def test_attach_registered_domain_psl(spark):
    """PSL longest-match semantics (r8 verdict #5): co.uk beats uk,
    unknown TLDs fall back to the prevailing '*' rule, a host that IS
    a public suffix (or has no host at all) yields NULL — and the
    naive mode reproduces url_features' last-two-labels rule."""
    from polaroam_spark.operators.textstats import (
        attach_registered_domain,
    )

    psl = spark.createDataFrame(
        [("com",), ("co.uk",), ("uk",), ("org",)], "suffix string"
    )
    urls = spark.createDataFrame(
        [
            (1, "https://a.b.example.co.uk/x"),
            (2, "https://WWW.Example.COM/y?q=1"),
            (3, "https://example.co.uk"),
            (4, "https://co.uk"),
            (5, "https://sub.deep.unknown.xyz"),
            (6, "not a url"),
        ],
        "id long, url string",
    )
    got = {
        r.id: r.registered_domain
        for r in attach_registered_domain(urls, suffix_list=psl).collect()
    }
    assert got == {
        1: "example.co.uk",
        2: "example.com",
        3: "example.co.uk",
        4: None,
        5: "unknown.xyz",
        6: None,
    }
    naive = {
        r.id: r.registered_domain
        for r in attach_registered_domain(urls).collect()
    }
    assert naive[1] == "co.uk"  # the documented naive coarsening


def test_filter_by_domain_with_suffix_list(spark):
    """Blocking example.co.uk must drop exactly that site when a
    suffix list is supplied — under the naive rule the block key
    never matches (domain resolves to co.uk) and nothing is
    dropped."""
    from polaroam_spark.operators.textstats import filter_by_domain

    psl = spark.createDataFrame(
        [("com",), ("co.uk",), ("uk",)], "suffix string"
    )
    docs = spark.createDataFrame(
        [
            (1, "https://a.example.co.uk/p"),
            (2, "https://other.co.uk/p"),
            (3, "https://a.example.com/p"),
        ],
        "doc_id long, url string",
    )
    block = spark.createDataFrame([("Example.CO.UK",)], "domain string")
    kept = sorted(
        r.doc_id
        for r in filter_by_domain(docs, block, suffix_list=psl).collect()
    )
    assert kept == [2, 3]
    kept_naive = sorted(
        r.doc_id for r in filter_by_domain(docs, block).collect()
    )
    assert kept_naive == [1, 2, 3]


def test_bigram_logprob_vs_reference(spark):
    """Reference-LM scoring (CCNet shape): fluent-under-reference
    beats shuffled beats full-OOV; sub-2-token docs NULL; every score
    finite and negative; and the scored corpus cannot move the model
    (adding spam to the scored side changes nothing)."""
    import math

    from polaroam_spark.operators.textstats import (
        bigram_logprob_vs_reference,
    )

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran to the mat")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (10, "the cat sat on the mat"),
            (11, "mat the on sat cat the"),
            (12, "zzz qqq www eee"),
            (13, "one"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.mean_bigram_logprob
        for r in bigram_logprob_vs_reference(docs, ref).collect()
    }
    assert out[13] is None
    assert out[10] > out[11] > out[12]
    assert all(
        v is None or (math.isfinite(v) and v < 0) for v in out.values()
    )
    # model immovable by the scored side: spam-flooded corpus scores
    # the original docs identically
    spam = spark.createDataFrame(
        [(100 + i, "buy buy buy now now now") for i in range(50)],
        "doc_id long, text string",
    )
    flooded = {
        r.doc_id: r.mean_bigram_logprob
        for r in bigram_logprob_vs_reference(
            docs.unionByName(spam), ref
        ).collect()
        if r.doc_id < 100
    }
    # tolerance, not equality: the per-doc mean folds floats in
    # partition order, which a shared session's AQE state can change
    # by a last-ulp reassociation
    assert set(flooded) == set(out)
    for k, v in out.items():
        if v is None:
            assert flooded[k] is None
        else:
            assert abs(flooded[k] - v) < 1e-9, (k, flooded[k], v)


def test_registered_domain_psl_refines_naive(spark):
    """Structural invariant over 300 random hosts: the PSL
    registered domain is NULL or literally ends with the naive
    last-two-labels domain — PSL grouping refines the naive one, so
    per-domain caps keyed naively stay conservative."""
    import random

    from polaroam_spark.operators.textstats import (
        attach_registered_domain,
    )

    rnd = random.Random(5)
    labels = ["a", "bb", "ccc", "example", "co", "uk", "jp", "xyz",
              "com", "org", "net", "site1"]
    rows = []
    for i in range(300):
        k = rnd.randint(1, 5)
        host = ".".join(rnd.choice(labels) for _ in range(k))
        rows.append((i, f"https://{host}/p"))
    urls = spark.createDataFrame(rows, "id long, url string")
    psl = spark.createDataFrame(
        [("com",), ("org",), ("net",), ("uk",), ("jp",), ("co.uk",),
         ("ccc.jp",), ("a.co.uk",)],
        "suffix string",
    )
    both = attach_registered_domain(
        attach_registered_domain(urls, suffix_list=psl, out_col="psl"),
        suffix_list=None,
        out_col="naive",
    ).collect()
    for r in both:
        if r.psl is not None and r.naive is not None:
            assert r.psl == r.naive or r.psl.endswith("." + r.naive) \
                or r.naive.endswith("." + r.psl) or r.psl == r.naive, r
            # precise form: psl == suffix+1 label; naive == last two
            # labels; the shorter one is always a suffix of the longer
            a, b = sorted([r.psl, r.naive], key=len)
            assert b.endswith(a), r


def test_registered_domain_empty_suffix_list(spark):
    """An EMPTY suffix table degrades to the prevailing '*' rule for
    every host (public suffix = last label), not an error and not
    NULLs."""
    from polaroam_spark.operators.textstats import (
        attach_registered_domain,
    )

    urls = spark.createDataFrame(
        [(1, "https://a.example.com/x"), (2, "https://localhost")],
        "id long, url string",
    )
    psl = spark.createDataFrame([], "suffix string")
    got = {
        r.id: r.registered_domain
        for r in attach_registered_domain(urls, suffix_list=psl).collect()
    }
    assert got == {1: "example.com", 2: None}


def test_dsir_importance_weights_prefers_target_like_docs(spark):
    """DSIR (Xie et al. 2023): documents sharing the target
    distribution's vocabulary must score a strictly higher hashed
    n-gram log importance weight than off-target documents; empty
    documents have no features and get NULL."""
    from polaroam_spark.operators.textstats import (
        dsir_importance_weights,
    )

    corpus = spark.createDataFrame(
        [
            (1, "quantum physics wave function collapse theory"),
            (2, "quantum theory of wave mechanics and physics"),
            (3, "buy cheap pills online casino bonus click here"),
            (4, "casino bonus free spins click subscribe now"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [
            (100, "quantum mechanics lectures on wave physics"),
            (101, "the theory of quantum wave function physics"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.dsir_logweight
        for r in dsir_importance_weights(
            corpus, target, num_buckets=4096, portable=True
        ).collect()
    }
    assert out[5] is None  # no tokens, no features
    sciency = min(out[1], out[2])
    spammy = max(out[3], out[4])
    assert sciency > spammy, out

    with pytest.raises(ValueError, match="smoothing"):
        dsir_importance_weights(corpus, target, smoothing=0.0)
    with pytest.raises(ValueError, match="num_buckets"):
        dsir_importance_weights(corpus, target, num_buckets=0)


def test_word_shingles_drops_null_elements(spark):
    """r11 ADVICE regression: the zip_with rewrite silently swapped
    concat_ws (skip-NULL) for concat (NULL-propagating). Pinned rule:
    NULL elements in a caller-supplied token array are dropped before
    shingling, so shingles cover the non-null token sequence — never
    a NULL shingle. assume_no_nulls=True (internal tokens() callers)
    skips the guard and must agree on null-free input."""
    from polaroam_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [
            (1, ["a", None, "b", "c"]),
            (2, ["a", "b", "c", "d"]),
            (3, [None, None, "x"]),  # shorter than k after filtering
            (4, [None, None]),  # empty after filtering
        ],
        "id long, toks array<string>",
    )
    out = {
        r.id: r.sh
        for r in df.select(
            "id", word_shingles("toks", 2).alias("sh")
        ).collect()
    }
    assert out[1] == ["a b", "b c"]
    assert out[2] == ["a b", "b c", "c d"]
    assert out[3] == ["x"]
    assert out[4] == [""]  # whole-sequence fallback on empty
    fast = {
        r.id: r.sh
        for r in df.filter("id = 2")
        .select(
            "id",
            word_shingles("toks", 2, assume_no_nulls=True).alias("sh"),
        )
        .collect()
    }
    assert fast[2] == out[2]


def test_extract_main_content_link_density(spark):
    """Link-density boilerplate removal: nav/footer (anchor-heavy)
    blocks drop, prose survives, prose with an embedded link
    survives, short fragments drop, script/style never leak, NULL
    in -> NULL out, and thresholds are honored."""
    from polaroam_spark.operators.textstats import extract_main_content

    html = (
        "<html><head><script>var boilerplate=1;</script>"
        "<style>p{color:red}</style></head><body>"
        '<nav><a href="/">Home sweet home page</a> | '
        '<a href="/about">About this whole site</a></nav>'
        "<div>The genuine article body text, long enough to clear "
        "the minimum character bar comfortably.</div>"
        '<p>A second real paragraph that cites <a href="x">one '
        "source</a> without being a link farm.</p>"
        "<p>tiny</p>"
        '<footer><a href="/terms">Terms of use</a> '
        '<a href="/privacy">Privacy policy</a></footer></body></html>'
    )
    df = spark.createDataFrame(
        [(1, html), (2, None)], "i long, h string"
    )
    out = {
        r.i: r.t
        for r in df.select(
            "i", extract_main_content("h").alias("t")
        ).collect()
    }
    lines = out[1].split("\n")
    assert len(lines) == 2
    assert lines[0].startswith("The genuine article body")
    assert "one source" in lines[1]
    assert "Home sweet" not in out[1]  # nav dropped
    assert "Privacy" not in out[1]  # footer dropped
    assert "boilerplate" not in out[1]  # script content gone
    assert "tiny" not in out[1]  # under min_chars
    assert out[2] is None
    # loosened link-density keeps the nav too
    loose = df.filter("i = 1").select(
        extract_main_content("h", max_link_density=1.0).alias("t")
    ).first()["t"]
    assert "Home sweet home page" in loose


def test_extract_main_content_pretty_printed_html(spark):
    """r12 ADVICE (medium): pretty-printed HTML wraps a paragraph
    across source lines — pre-existing newlines must NOT act as
    block boundaries (else wrapped tail lines under min_chars vanish
    and link density is scored per source line, not per block)."""
    from polaroam_spark.operators.textstats import extract_main_content

    html = (
        "<html>\n<body>\n<nav>\n"
        '<a href="/">Home</a> <a href="/a">About</a>\n'
        "</nav>\n<div>\nThe quick brown fox jumps over the lazy "
        "dog near\nthe river bank today.\n</div>\n"
        '<footer><a href="/t">Terms</a> <a href="/p">Privacy'
        "</a></footer>\n</body>\n</html>"
    )
    df = spark.createDataFrame([(1, html)], "i long, h string")
    got = df.select(
        extract_main_content("h").alias("t")
    ).first().t
    # the wrapped paragraph survives as ONE block, tail included,
    # newline rejoined as a space; nav/footer dropped by link density
    assert "near the river bank today." in got
    assert "Home" not in got and "Terms" not in got


def test_normalize_text_forms_and_casefold(spark):
    """normalize_text (r13): composed == NFC(decomposed); NFKC folds
    compatibility forms (ligature, full-width); casefold lowers
    beyond lower() (ß -> ss); NULL in -> NULL out; bad form raises."""
    import pytest

    from polaroam_spark.operators.textstats import normalize_text

    rows = [
        (1, "café"),          # decomposed e + combining acute
        (2, "ﬁne ＡＢＣ"),           # ligature fi + full-width ABC
        (3, "STRASSE ß"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    nfc = {r.i: r.o for r in df.select(
        "i", normalize_text("t").alias("o")).collect()}
    assert nfc[1] == "café" and len(nfc[1]) == 4
    assert nfc[2] == "ﬁne ＡＢＣ"  # NFC leaves compatibility chars
    assert nfc[4] is None
    nfkc = {r.i: r.o for r in df.select(
        "i", normalize_text("t", "NFKC").alias("o")).collect()}
    assert nfkc[2] == "fine ABC"
    folded = {r.i: r.o for r in df.select(
        "i", normalize_text("t", "NFKC", casefold=True).alias("o")
    ).collect()}
    assert folded[3] == "strasse ss"
    with pytest.raises(ValueError, match="NFC/NFD/NFKC/NFKD"):
        normalize_text("t", "NFX")


def _kn_replay(ref_texts, doc_texts, d=0.75):
    """Pure-python replay of kn_trigram_logprob_vs_reference's exact
    arithmetic (same count tables, same term order) for the
    differential test below."""
    import math
    from collections import Counter

    def toks(t):
        return t.lower().split()

    tri = Counter()
    for t in ref_texts:
        w = toks(t)
        for i in range(len(w) - 2):
            tri[(w[i], w[i + 1], w[i + 2])] += 1
    c12, n12 = Counter(), Counter()
    n_d23 = Counter()
    for (a, b, c), n in tri.items():
        c12[(a, b)] += n
        n12[(a, b)] += 1
        n_d23[(b, c)] += 1
    n_d2d, n_2d = Counter(), Counter()
    for (b, c), n in n_d23.items():
        n_d2d[b] += n
        n_2d[b] += 1
    bg_types = set()
    for t in ref_texts:
        w = toks(t)
        for i in range(len(w) - 1):
            bg_types.add((w[i], w[i + 1]))
    n_d3 = Counter(b for _, b in bg_types)
    nb = float(len(bg_types))

    out = {}
    for did, t in doc_texts:
        w = toks(t)
        if len(w) < 3:
            out[did] = None
            continue
        logs = []
        for i in range(len(w) - 2):
            a, b, c = w[i], w[i + 1], w[i + 2]
            p_cont = (
                n_d3[c] / nb if n_d3[c] > 0 else 0.5 / (nb + 0.5)
            )
            if n_d2d[b] > 0:
                p_bg = max(n_d23[(b, c)] - d, 0.0) / n_d2d[b] + (
                    d * n_2d[b]
                ) / n_d2d[b] * p_cont
            else:
                p_bg = p_cont
            if c12[(a, b)] > 0:
                p = max(tri[(a, b, c)] - d, 0.0) / c12[(a, b)] + (
                    d * n12[(a, b)]
                ) / c12[(a, b)] * p_bg
            else:
                p = p_bg
            logs.append(math.log(p))
        out[did] = sum(logs) / len(logs)
    return out


def test_kn_trigram_logprob_vs_reference(spark):
    """Interpolated Kneser-Ney trigram reference scoring: fluent >
    shuffled > full-OOV, sub-3-token docs NULL, scores finite and
    negative, and per-doc means match a pure-python replay of the
    published recursion to 1e-9."""
    import math

    from polaroam_spark.operators.textstats import (
        kn_trigram_logprob_vs_reference,
    )

    ref_texts = [
        "the cat sat on the mat",
        "the cat ran to the mat",
        "a dog sat on a rug",
        "the dog ran to the rug",
    ]
    doc_rows = [
        (10, "the cat sat on the mat"),
        (11, "mat the on sat cat the"),
        (12, "zzz qqq www eee yyy"),
        (13, "one two"),
        (14, "the dog sat on the rug"),
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    out = {
        r.doc_id: r.mean_kn_logprob
        for r in kn_trigram_logprob_vs_reference(docs, ref).collect()
    }
    assert out[13] is None
    assert out[10] > out[11] > out[12]
    assert all(
        v is None or (math.isfinite(v) and v < 0)
        for v in out.values()
    )
    replay = _kn_replay(ref_texts, doc_rows)
    for k, v in replay.items():
        if v is None:
            assert out[k] is None
        else:
            assert abs(out[k] - v) < 1e-9, (k, out[k], v)


def test_kn_trigram_random_differential(spark):
    """200 random docs scored against a 60-doc random reference match
    the python replay doc-for-doc — exercises every OOV branch
    (unseen trigram under seen context, unseen context, unseen
    middle, unseen word) across a vocabulary sized to force all of
    them."""
    import random

    from polaroam_spark.operators.textstats import (
        kn_trigram_logprob_vs_reference,
    )

    rnd = random.Random(71)
    vocab = [f"w{i}" for i in range(40)]
    ref_texts = [
        " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 20)))
        for _ in range(60)
    ]
    extra = vocab + ["oov1", "oov2", "oov3"]
    doc_rows = [
        (
            i,
            " ".join(
                rnd.choice(extra) for _ in range(rnd.randint(1, 25))
            ),
        )
        for i in range(200)
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    out = {
        r.doc_id: r.mean_kn_logprob
        for r in kn_trigram_logprob_vs_reference(docs, ref).collect()
    }
    replay = _kn_replay(ref_texts, doc_rows)
    assert set(out) == set(replay)
    for k, v in replay.items():
        if v is None:
            assert out[k] is None
        else:
            # same terms, different fold order across partitions
            assert abs(out[k] - v) < 1e-9, (k, out[k], v)


def test_kn_trigram_discount_validation(spark):
    from polaroam_spark.operators.textstats import (
        kn_trigram_logprob_vs_reference,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0.0, 1.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="discount"):
            kn_trigram_logprob_vs_reference(df, df, discount=bad)


def _kn_replay_n(ref_texts, doc_texts, N, d=0.75):
    """Pure-python replay of kn_ngram_logprob_vs_reference's exact
    arithmetic at any order (same count tables, same term order)."""
    import math
    from collections import Counter

    def toks(t):
        return t.lower().split()

    ng = Counter()
    for t in ref_texts:
        w = toks(t)
        for i in range(len(w) - N + 1):
            ng[tuple(w[i : i + N])] += 1
    ctot, ctyp = Counter(), Counter()
    for g, n in ng.items():
        ctot[g[:-1]] += n
        ctyp[g[:-1]] += 1
    cc = {}
    for k in range(N - 1, 0, -1):
        if k == N - 1:
            types = set(ng)
        else:
            types = set()
            for t in ref_texts:
                w = toks(t)
                for i in range(len(w) - k):
                    types.add(tuple(w[i : i + k + 1]))
        ck = Counter()
        for g in types:
            ck[g[1:]] += 1
        cc[k] = ck
    ccx, nt = {}, {}
    for k in range(2, N):
        ccx[k], nt[k] = Counter(), Counter()
        for g, n in cc[k].items():
            ccx[k][g[:-1]] += n
            nt[k][g[:-1]] += 1
    nb = float(sum(cc[1].values()))

    out = {}
    for did, t in doc_texts:
        w = toks(t)
        if len(w) < N:
            out[did] = None
            continue
        logs = []
        for i in range(len(w) - N + 1):
            g = tuple(w[i : i + N])
            wN = g[-1:]
            p = cc[1][wN] / nb if cc[1][wN] > 0 else 0.5 / (nb + 0.5)
            for k in range(2, N):
                gk = g[N - k :]
                vk = gk[:-1]
                if ccx[k][vk] > 0:
                    p = (
                        max(cc[k][gk] - d, 0.0) / ccx[k][vk]
                        + (d * nt[k][vk]) / ccx[k][vk] * p
                    )
            u = g[:-1]
            if ctot[u] > 0:
                p = (
                    max(ng[g] - d, 0.0) / ctot[u]
                    + (d * ctyp[u]) / ctot[u] * p
                )
            logs.append(math.log(p))
        out[did] = sum(logs) / len(logs)
    return out


def test_kn_replay_order3_agrees_with_trigram_replay():
    """The generic replay at N=3 IS the trigram replay — anchors the
    generic recursion before trusting it at other orders."""
    import random

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(25)]
    ref = [
        " ".join(rnd.choice(vocab) for _ in range(rnd.randint(3, 15)))
        for _ in range(30)
    ]
    docs = [
        (
            i,
            " ".join(
                rnd.choice(vocab + ["oovx"])
                for _ in range(rnd.randint(1, 18))
            ),
        )
        for i in range(60)
    ]
    a = _kn_replay(ref, docs)
    b = _kn_replay_n(ref, docs, 3)
    assert set(a) == set(b)
    for k in a:
        if a[k] is None:
            assert b[k] is None
        else:
            assert abs(a[k] - b[k]) < 1e-12


def test_kn_ngram_order5_random_differential(spark):
    """Order-5 KN (CCNet's deployed filter order): 150 random docs
    vs a 60-doc reference match the generic python replay
    doc-for-doc — every backoff level (unseen 5-gram under seen
    context, then each continuation level down to the unseen-word
    floor) is exercised by the OOV-extended vocabulary."""
    import random

    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
    )

    rnd = random.Random(29)
    vocab = [f"w{i}" for i in range(30)]
    ref_texts = [
        " ".join(rnd.choice(vocab) for _ in range(rnd.randint(5, 24)))
        for _ in range(60)
    ]
    extra = vocab + ["oov1", "oov2"]
    doc_rows = [
        (
            i,
            " ".join(
                rnd.choice(extra) for _ in range(rnd.randint(2, 28))
            ),
        )
        for i in range(150)
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    out = {
        r.doc_id: r.mean_kn_logprob
        for r in kn_ngram_logprob_vs_reference(
            docs, ref, order=5
        ).collect()
    }
    replay = _kn_replay_n(ref_texts, doc_rows, 5)
    assert set(out) == set(replay)
    n_scored = 0
    for k, v in replay.items():
        if v is None:
            assert out[k] is None
        else:
            n_scored += 1
            assert abs(out[k] - v) < 1e-9, (k, out[k], v)
    assert n_scored > 50  # the fixture actually scores most docs


def test_kn_ngram_order2_and_validation(spark):
    """Order 2 is KN-smoothed bigrams (raw top counts straight onto
    the continuation floor — no mid levels); order < 2 raises."""
    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
    )

    ref_texts = [
        "the cat sat on the mat",
        "a dog sat on a rug",
    ]
    doc_rows = [(1, "the cat sat"), (2, "one"), (3, "zz qq ww")]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    out = {
        r.doc_id: r.mean_kn_logprob
        for r in kn_ngram_logprob_vs_reference(
            docs, ref, order=2
        ).collect()
    }
    replay = _kn_replay_n(ref_texts, doc_rows, 2)
    assert out[2] is None
    assert abs(out[1] - replay[1]) < 1e-9
    assert abs(out[3] - replay[3]) < 1e-9
    assert out[1] > out[3]
    with pytest.raises(ValueError, match="order"):
        kn_ngram_logprob_vs_reference(docs, ref, order=1)


def test_perplexity_buckets_exact_cuts(spark):
    """CCNet head/middle/tail labels against hand-computed exact
    percentile cuts per group; NULL/NaN scores bucket NULL; a
    group with all-NULL scores buckets NULL throughout; fraction
    validation is loud."""
    import pytest

    from polaroam_spark.operators.textstats import perplexity_buckets

    # group a: scores 1..9 -> cut_head = p(2/3) = 6.333..,
    # cut_mid = p(1/3) = 3.666..: head {7,8,9}, middle {4,5,6}
    rows = [(i, "a", float(i)) for i in range(1, 10)]
    # group b: 4 finite + NaN + NULL; p(2/3) of [10,20,30,40] = 30,
    # p(1/3) = 20 -> head {30,40} (>= is inclusive), middle {20}
    rows += [
        (10, "b", 10.0),
        (11, "b", 20.0),
        (12, "b", 30.0),
        (13, "b", 40.0),
        (14, "b", float("nan")),
        (15, "b", None),
    ]
    rows += [(16, "c", None), (17, "c", float("nan"))]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, s double"
    )
    out = {
        r.doc_id: r.perplexity_bucket
        for r in perplexity_buckets(df, "s", "lang").collect()
    }
    for i in (1, 2, 3):
        assert out[i] == "tail", (i, out[i])
    for i in (4, 5, 6):
        assert out[i] == "middle", (i, out[i])
    for i in (7, 8, 9):
        assert out[i] == "head", (i, out[i])
    assert out[10] == "tail" and out[11] == "middle"
    assert out[12] == "head" and out[13] == "head"
    assert out[14] is None and out[15] is None
    assert out[16] is None and out[17] is None

    # global group: one cut set over everything finite
    g = perplexity_buckets(df, "s", None).collect()
    assert {r.perplexity_bucket for r in g} >= {"head", "tail"}

    # custom fractions: head-only top 10%
    top = {
        r.doc_id: r.perplexity_bucket
        for r in perplexity_buckets(
            df, "s", "lang", head_fraction=0.1, middle_fraction=0.0
        ).collect()
    }
    assert top[9] == "head"
    assert top[1] == "tail"

    with pytest.raises(ValueError, match="head_fraction"):
        perplexity_buckets(df, "s", "lang", head_fraction=0.0)
    with pytest.raises(ValueError, match="head_fraction"):
        perplexity_buckets(
            df, "s", "lang", head_fraction=0.5, middle_fraction=0.6
        )


def test_perplexity_buckets_approx_agrees(spark):
    """accuracy='approx' (the mergeable percentile_approx cut path —
    the 100 TB deployment shape where the exact path's per-group
    value->count buffer is group-sized): on a 3000-row skewed frame
    (90% one group) bucket assignment agrees with the exact path on
    >= 99% of rows per group, NULL propagation is identical, and an
    unknown accuracy value raises."""
    import pytest

    from pyspark.sql import functions as F

    from polaroam_spark.operators.textstats import perplexity_buckets

    n = 3000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 < 9, F.lit("en"))
            .otherwise(F.lit("de"))
            .alias("lang"),
            F.when(
                F.col("id") % 97 == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.pmod(F.xxhash64("id"), F.lit(99991)).cast("double")
                / 99991.0
            )
            .alias("s"),
        )
    )
    e = perplexity_buckets(df, "s", "lang", out_col="b_e")
    both = perplexity_buckets(
        e, "s", "lang", out_col="b_a", accuracy="approx"
    ).collect()
    by_lang: dict = {}
    for r in both:
        tot, agree = by_lang.get(r.lang, (0, 0))
        by_lang[r.lang] = (
            tot + 1,
            agree + (1 if r.b_e == r.b_a else 0),
        )
        if r.s is None:
            assert r.b_e is None and r.b_a is None
    for lang, (tot, agree) in by_lang.items():
        assert agree >= tot * 0.99, (lang, agree, tot)

    with pytest.raises(ValueError, match="accuracy"):
        perplexity_buckets(df, "s", "lang", accuracy="sketchy")


# ---- token entropy + compression ratio ------------------------------


def test_token_entropy_values(spark):
    import math

    from polaroam_spark.operators.textstats import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a"),           # one token type -> 0 bits
            (2, "a b a b"),           # uniform over 2 -> 1 bit
            (3, "a b c d"),           # uniform over 4 -> 2 bits
            (4, "a a a b"),           # 3/4,1/4
            (5, None),
            (6, "   "),
            (7, "A a"),               # lowercased: one type
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.token_entropy for r in token_entropy(df).collect()
    }
    assert got[1] == 0.0
    assert abs(got[2] - 1.0) < 1e-12
    assert abs(got[3] - 2.0) < 1e-12
    expected = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert abs(got[4] - expected) < 1e-12
    assert got[5] is None and got[6] is None
    assert got[7] == 0.0


def test_token_entropy_spam_below_prose(spark):
    from polaroam_spark.operators.textstats import token_entropy

    prose = (
        "the quick brown fox jumps over the lazy dog while many "
        "different words appear exactly once in this long sentence"
    )
    spam = "buy now " * 40
    df = spark.createDataFrame(
        [(1, prose), (2, spam)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.token_entropy for r in token_entropy(df).collect()
    }
    assert got[2] < 1.1 < got[1]


def test_compression_ratio_repetition_vs_prose(spark):
    import zlib

    from polaroam_spark.operators.textstats import compression_ratio

    para = (
        "This paragraph talks about completely unrelated topics "
        "such as astronomy, cooking, sailing and medieval history. "
    )
    pasted = para * 50  # long-range duplication
    import random

    rng = random.Random(7)
    noise = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz0123456789 ")
        for _ in range(3000)
    )
    df = spark.createDataFrame(
        [(1, pasted), (2, noise), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.compression_ratio
        for r in compression_ratio(df).collect()
    }
    assert got[1] < 0.1 < got[2]
    assert got[3] is None and got[4] is None
    # exact agreement with a local zlib at the same level
    exact = len(zlib.compress(pasted.encode(), 6)) / len(
        pasted.encode()
    )
    assert abs(got[1] - exact) < 1e-12


def test_compression_ratio_level_validation(spark):
    import pytest as _pt

    from polaroam_spark.operators.textstats import compression_ratio

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pt.raises(ValueError):
        compression_ratio(df, level=11)
    # level changes absolute ratios
    hi = compression_ratio(
        spark.createDataFrame(
            [(1, "word " * 500)], "doc_id long, text string"
        ),
        level=9,
    ).collect()[0].compression_ratio
    lo = compression_ratio(
        spark.createDataFrame(
            [(1, "word " * 500)], "doc_id long, text string"
        ),
        level=1,
    ).collect()[0].compression_ratio
    assert hi <= lo


def test_entropy_and_compression_are_map_only(spark):
    from polaroam_spark.operators.textstats import (
        compression_ratio,
        token_entropy,
    )

    df = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    for out in (token_entropy(df), compression_ratio(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


# ---- URL canonicalization -------------------------------------------


def test_canonicalize_url_rules(spark):
    from polaroam_spark.operators.textstats import canonicalize_url

    cases = [
        # fragment + tracking + order + case + default port
        (
            "HTTPS://Www.Example.COM:443/Path/?b=2&utm_source=x&a=1#frag",
            "https://www.example.com/Path?a=1&b=2",
        ),
        ("http://a.com:80/x", "http://a.com/x"),
        ("http://a.com:8080/x", "http://a.com:8080/x"),  # non-default kept
        ("https://a.com/", "https://a.com"),
        ("https://a.com/x///", "https://a.com/x"),
        ("https://a.com/x?gclid=1&fbclid=2", "https://a.com/x"),
        ("https://a.com/x?a=1&a=0", "https://a.com/x?a=0&a=1"),
        ("https://a.com/A/B", "https://a.com/A/B"),  # path case kept
        ("not a url", "not a url"),  # no authority: unchanged
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)],
        "i long, url string",
    )
    got = {
        r.i: r.c
        for r in df.select(
            "i", canonicalize_url("url").alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_canonicalize_url_merges_spellings_for_dedup(spark):
    from polaroam_spark.operators.textstats import canonicalize_url

    spellings = [
        "https://Example.com/page?utm_campaign=a&x=1&y=2",
        "HTTPS://example.COM:443/page/?y=2&x=1#top",
        "https://example.com/page?x=1&y=2&fbclid=zzz",
    ]
    df = spark.createDataFrame(
        [(s,) for s in spellings], "url string"
    )
    assert (
        df.select(canonicalize_url("url").alias("c"))
        .distinct()
        .count()
        == 1
    )


def test_canonicalize_url_custom_tracking_and_slash(spark):
    from polaroam_spark.operators.textstats import canonicalize_url

    df = spark.createDataFrame(
        [("https://a.com/x/?sess=9&k=1",)], "url string"
    )
    got = df.select(
        canonicalize_url(
            "url",
            tracking_param_re=r"^sess(=|$)",
            strip_trailing_slash=False,
        ).alias("c")
    ).collect()[0].c
    assert got == "https://a.com/x/?k=1"


# ---- badword stats ---------------------------------------------------


def test_badword_stats_counts_and_ratio(spark):
    from polaroam_spark.operators.textstats import badword_stats

    df = spark.createDataFrame(
        [
            (1, "clean text here"),
            (2, "spam word SPAM again"),
            (3, None),
            (4, "classy words unrelated"),  # no substring matching
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in badword_stats(df, ["spam", "junk"]).collect()
    }
    assert out[1].n_badword_hits == 0 and not out[1].has_badword
    assert out[2].n_badword_hits == 2  # lowercased occurrences
    assert abs(out[2].badword_ratio - 2 / 4) < 1e-12
    assert out[3].n_badword_hits == 0 and out[3].badword_ratio is None
    assert out[4].n_badword_hits == 0  # 'classy' != 'class'-style hit


def test_badword_stats_dataframe_list_and_errors(spark):
    import pytest as _pt

    from polaroam_spark.operators.textstats import badword_stats

    df = spark.createDataFrame(
        [(1, "a BAD day")], "doc_id long, text string"
    )
    words = spark.createDataFrame([("Bad",)], "word string")
    r = badword_stats(df, words).collect()[0]
    assert r.n_badword_hits == 1 and r.has_badword
    with _pt.raises(ValueError, match="empty word list"):
        badword_stats(df, [])
    # a 0-row DataFrame blocklist is the same silent failure mode
    with _pt.raises(ValueError, match="empty word list"):
        badword_stats(df, words.limit(0))


def test_curate_badword_stage(spark):
    from polaroam_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "totally fine document", "a"),
            (2, "contains spam once", "a"),
        ],
        "doc_id long, text string, source string",
    )
    kept, stats = curate_corpus(
        docs,
        badwords=["spam"],
        max_badword_ratio=0.0,
        dedup=None,
    )
    assert {r.doc_id for r in kept.collect()} == {1}
    assert "badwords" in [r.stage for r in stats.collect()]
    import pytest as _pt

    with _pt.raises(ValueError, match="badword stage"):
        curate_corpus(docs, badwords=["spam"], dedup=None)


def test_badword_stats_rejects_phrases(spark):
    import pytest as _pt

    from polaroam_spark.operators.textstats import badword_stats

    df = spark.createDataFrame(
        [(1, "some text")], "doc_id long, text string"
    )
    with _pt.raises(ValueError, match="can never match"):
        badword_stats(df, ["ok", "two words"])
    words = spark.createDataFrame(
        [("fine",), ("bad phrase",)], "word string"
    )
    with _pt.raises(ValueError, match="can never match"):
        badword_stats(df, words)


def test_winsorize_robust_reserved_columns(spark):
    import pytest as _pt

    from polaroam_spark.operators.textstats import (
        robust_scale_scores,
        winsorize_scores,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 0.0)], "source string, score double, _ws_lo double"
    )
    with _pt.raises(ValueError, match="reserve"):
        winsorize_scores(df, "score", "source")
    df2 = spark.createDataFrame(
        [("a", 1.0, 0.0)], "source string, score double, _ws_med double"
    )
    with _pt.raises(ValueError, match="reserve"):
        robust_scale_scores(df2, "score", "source")


def _kn_replay_n(ref_texts, doc_texts, N, d=0.75):
    """Pure-python replay of kn_ngram_logprob_vs_reference at any
    order, building every lower-level type table by DIRECT distinct
    passes over positions — an independent construction the Spark
    model tables must reproduce exactly."""
    import math
    from collections import Counter

    def toks(t):
        return t.lower().split()

    ngrams = Counter()
    for t in ref_texts:
        w = toks(t)
        for i in range(len(w) - N + 1):
            ngrams[tuple(w[i : i + N])] += 1
    ctot, ctyp = Counter(), Counter()
    for g, n in ngrams.items():
        ctot[g[:-1]] += n
        ctyp[g[:-1]] += 1
    types = {N: set(ngrams)}
    for m in range(N - 1, 1, -1):
        s = set()
        for t in ref_texts:
            w = toks(t)
            for i in range(len(w) - m + 1):
                s.add(tuple(w[i : i + m]))
        types[m] = s
    cc = {}
    for k in range(N - 1, 0, -1):
        c = Counter()
        for g in types[k + 1]:
            c[g[1:]] += 1
        cc[k] = c
    ccx, nt = {}, {}
    for k in range(2, N):
        a, b = Counter(), Counter()
        for g, n in cc[k].items():
            a[g[:-1]] += n
            b[g[:-1]] += 1
        ccx[k], nt[k] = a, b
    nb = float(sum(cc[1].values()))

    out = {}
    for did, t in doc_texts:
        w = toks(t)
        if len(w) < N:
            out[did] = None
            continue
        logs = []
        for i in range(len(w) - N + 1):
            g = tuple(w[i : i + N])
            wl = g[-1:]
            p = (
                cc[1][wl] / nb
                if cc[1][wl] > 0
                else 0.5 / (nb + 0.5)
            )
            for k in range(2, N):
                sub = g[N - k :]
                v = sub[:-1]
                if ccx[k][v] > 0:
                    p = (
                        max(cc[k][sub] - d, 0.0) / ccx[k][v]
                        + d * nt[k][v] / ccx[k][v] * p
                    )
            u = g[:-1]
            if ctot[u] > 0:
                p = (
                    max(ngrams[g] - d, 0.0) / ctot[u]
                    + d * ctyp[u] / ctot[u] * p
                )
            logs.append(math.log(p))
        out[did] = sum(logs) / len(logs)
    return out


@pytest.mark.parametrize("order", [3, 4, 5])
def test_kn_ngram_derived_type_tables_differential(spark, order):
    """Orders 3-5 against the any-order python replay, with reference
    docs of every length 1..8: each length straddles a different
    boundary of the per-level type tables (a doc of length m
    contributes its ONLY m-gram, covered by no (m+1)-gram), so a
    missing or duplicated type shifts a continuation count and fails
    the comparison. Guards any restructuring of the model-table
    construction (r19 measured one such restructuring and rejected
    it; the test stays as the safety net for the next attempt)."""
    import random

    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
    )

    rnd = random.Random(137)
    vocab = [f"w{i}" for i in range(12)]
    ref_texts = [
        " ".join(rnd.choice(vocab) for _ in range(1 + (i % 8)))
        for i in range(48)
    ]
    extra = vocab + ["oovx", "oovy"]
    doc_rows = [
        (
            i,
            " ".join(
                rnd.choice(extra) for _ in range(rnd.randint(1, 14))
            ),
        )
        for i in range(60)
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    out = {
        r.doc_id: r.mean_kn_logprob
        for r in kn_ngram_logprob_vs_reference(
            docs, ref, order=order
        ).collect()
    }
    replay = _kn_replay_n(ref_texts, doc_rows, order)
    assert set(out) == set(replay)
    for k, v in replay.items():
        if v is None:
            assert out[k] is None, (k, out[k])
        else:
            assert abs(out[k] - v) < 1e-9, (k, out[k], v)


# Every per-document join-back of textstats keys its result by the
# caller's id, so the id must be unique and non-NULL: two documents
# sharing an id would get one merged score, and a NULL id would
# silently score NULL. "dup_short" repeats an id on documents with no
# gram at all, which must be caught too.
_JOIN_BACK_SITES = {
    "unigram_logprob": lambda ts, d, r: ts.unigram_logprob(d),
    "bigram_logprob": lambda ts, d, r: ts.bigram_logprob(d),
    "bigram_logprob_vs_reference": (
        lambda ts, d, r: ts.bigram_logprob_vs_reference(d, r)
    ),
    "kn_ngram_logprob_vs_reference": (
        lambda ts, d, r: ts.kn_ngram_logprob_vs_reference(d, r, order=3)
    ),
    "dsir_importance_weights": (
        lambda ts, d, r: ts.dsir_importance_weights(d, r, num_buckets=64)
    ),
    "repetition_ratio": lambda ts, d, r: ts.repetition_ratio(d),
    "duplicate_line_stats": lambda ts, d, r: ts.duplicate_line_stats(d),
    "duplicated_span_stats": (
        lambda ts, d, r: ts.duplicated_span_stats(d, window=2, stride=1)
    ),
    "badword_stats": lambda ts, d, r: ts.badword_stats(d, ["zeta"]),
}

_BAD_IDS = {
    "dup": (
        [(1, "alpha beta gamma"), (1, "zeta zeta zeta zeta"),
         (2, "alpha beta gamma")],
        "duplicate doc_id",
    ),
    "dup_short": (
        [(1, ""), (1, None), (2, "alpha beta gamma")],
        "duplicate doc_id",
    ),
    "null": (
        [(None, "alpha beta gamma delta"), (2, "alpha beta gamma")],
        "NULL doc_id",
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_IDS))
@pytest.mark.parametrize("site", sorted(_JOIN_BACK_SITES))
def test_join_back_rejects_null_and_duplicate_ids(spark, site, case):
    from polaroam_spark.operators import textstats as ts

    rows, msg = _BAD_IDS[case]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame(
        [(0, "alpha beta gamma delta zeta")], "doc_id long, text string"
    )
    out = _JOIN_BACK_SITES[site](ts, docs, ref)
    with pytest.raises(Exception, match=msg):
        out.collect()


@pytest.mark.parametrize("case", ["null", "dup_short"])
def test_join_back_checks_hold_under_score_filter(spark, case):
    """A filter on the score turns the left join-back into an inner
    join, which lets Spark infer ``isnotnull`` on both sides and run
    it, or the score filter, before anything else; a NULL id and a
    repeated id on NULL-score documents must still raise rather than
    silently drop (the curate_corpus perplexity stage filters exactly
    this way)."""
    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
    )

    rows, msg = _BAD_IDS[case]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = kn_ngram_logprob_vs_reference(docs, docs, order=2).filter(
        F.col("mean_kn_logprob") > -1e9
    )
    with pytest.raises(Exception, match=msg):
        out.collect()
