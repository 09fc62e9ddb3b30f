"""Sketch aggregates: approx_count_distinct error bound vs exact."""

import pyspark.sql.functions as F


def test_approx_count_distinct_error_bound(spark):
    df = spark.range(0, 20000).select(
        (F.col("id") % 5).alias("g"), (F.col("id") % 3777).alias("u")
    )
    joined = (
        df.groupBy("g")
        .agg(
            F.approx_count_distinct("u", 0.02).alias("approx"),
            F.countDistinct("u").alias("exact"),
        )
        .collect()
    )
    for r in joined:
        assert abs(r.approx - r.exact) / r.exact < 0.05, r


# ---- Misra-Gries heavy hitters ------------------------------------

import random

import pyspark.sql.functions as F  # noqa: F811  (module-level alias above)
import pytest

from polaroam_spark.operators.sketches import (
    bloom_decontaminate,
    bloom_bits_for,
    build_bloom,
    heavy_hitters,
    probe_bloom,
)


def _zipf_items(n=20000, n_items=400, seed=7):
    rng = random.Random(seed)
    # zipf-ish: item i drawn with weight 1/(i+1)
    weights = [1.0 / (i + 1) for i in range(n_items)]
    return rng.choices([f"tok{i}" for i in range(n_items)], weights, k=n)


@pytest.mark.parametrize("n_parts", [1, 7])
def test_misra_gries_guarantees(spark, n_parts):
    items = _zipf_items()
    n = len(items)
    cap = 16
    df = spark.createDataFrame(
        [(x,) for x in items], "item string"
    ).repartition(n_parts)
    sketch = {
        r.item: r.est_count
        for r in heavy_hitters(df, "item", capacity=cap).collect()
    }
    exact = {}
    for x in items:
        exact[x] = exact.get(x, 0) + 1
    bound = n / (cap + 1)
    for item, true_cnt in exact.items():
        est = sketch.get(item, 0)
        assert est <= true_cnt, (item, est, true_cnt)
        assert true_cnt - est <= bound, (item, est, true_cnt, bound)
        if true_cnt > bound:
            assert item in sketch, (item, true_cnt, bound)


def test_misra_gries_exact_when_under_capacity(spark):
    # distinct items <= capacity: no decrement ever fires, the
    # sketch IS the exact count regardless of partitioning
    items = ["a"] * 10 + ["b"] * 5 + ["c"] * 2
    df = spark.createDataFrame([(x,) for x in items], "item string")
    out = {
        r.item: r.est_count
        for r in heavy_hitters(df, "item", capacity=8).collect()
    }
    assert out == {"a": 10, "b": 5, "c": 2}


def test_misra_gries_top_k_and_nulls(spark):
    items = [("a",)] * 10 + [("b",)] * 5 + [(None,)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(items, "item string")
    out = heavy_hitters(df, "item", capacity=8, top_k=2).collect()
    assert [r.item for r in out] == ["a", "b"]


def test_misra_gries_long_items(spark):
    df = spark.range(0, 1000).select((F.col("id") % 3).alias("v"))
    out = {
        r.v: r.est_count
        for r in heavy_hitters(df, "v", capacity=4).collect()
    }
    assert sum(out.values()) == 1000 and set(out) == {0, 1, 2}


# ---- Bloom filter --------------------------------------------------


@pytest.mark.parametrize("portable", [False, True])
def test_bloom_no_false_negatives(spark, portable):
    members = spark.range(0, 500).select(
        F.concat(F.lit("key"), F.col("id")).alias("k")
    )
    m, h = bloom_bits_for(500, 0.01)
    bloom = build_bloom(members, "k", m, h, portable=portable)
    assert bloom.count() <= m / 64
    probed = probe_bloom(members, "k", bloom, m, h, portable=portable)
    assert probed.filter(~F.col("bloom_maybe")).count() == 0
    # original columns survive probing
    assert set(probed.columns) == {"k", "bloom_maybe"}


def test_bloom_false_positive_rate_bounded(spark):
    members = spark.range(0, 500).select(
        F.concat(F.lit("key"), F.col("id")).alias("k")
    )
    outsiders = spark.range(0, 2000).select(
        F.concat(F.lit("other"), F.col("id")).alias("k")
    )
    m, h = bloom_bits_for(500, 0.01)
    bloom = build_bloom(members, "k", m, h)
    fp = (
        probe_bloom(outsiders, "k", bloom, m, h)
        .filter(F.col("bloom_maybe"))
        .count()
    )
    # target 1%; allow 4x headroom for a fixed-hash sample
    assert fp / 2000 <= 0.04, fp


def test_bloom_null_probe_is_false(spark):
    members = spark.range(0, 10).select(F.col("id").cast("string").alias("k"))
    bloom = build_bloom(members, "k", 1024, 3)
    probed = probe_bloom(
        spark.createDataFrame([(None,), ("3",)], "k string"),
        "k",
        bloom,
        1024,
        3,
    ).collect()
    got = {r.k: r.bloom_maybe for r in probed}
    assert got[None] is False and got["3"] is True


def test_bloom_decontaminate_one_sided_vs_exact(spark):
    from polaroam_spark.operators.dedup import decontaminate

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eval_df = corpus.filter(F.col("doc_id") % 37 == 0).select(
        F.col("text")
    )
    kw = dict(n=8, min_overlap=1)
    exact = decontaminate(
        corpus, eval_df, match_short_eval=False, **kw
    )
    bloomy = bloom_decontaminate(
        corpus, eval_df, num_bits=1 << 16, num_hashes=5, **kw
    )
    exact_ids = {r.doc_id for r in exact.select("doc_id").collect()}
    bloom_ids = {r.doc_id for r in bloomy.select("doc_id").collect()}
    # one-sided: bloom never keeps a doc the exact op drops
    assert bloom_ids <= exact_ids
    # and over-dropping is rare at this sizing
    assert len(exact_ids) - len(bloom_ids) <= max(2, len(exact_ids) // 50)


def test_misra_gries_empty_partitions_string_items(spark):
    # empty partitions must yield nothing, not an int64-indexed empty
    # frame that fails Arrow conversion against a string schema
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "item string"
    ).repartition(8)
    out = {
        r.item: r.est_count
        for r in heavy_hitters(df, "item", capacity=4).collect()
    }
    assert out == {"a": 2, "b": 1}


def test_misra_gries_all_null_input(spark):
    df = spark.createDataFrame([(None,), (None,)], "item string")
    assert heavy_hitters(df, "item", capacity=4).count() == 0


def test_bloom_decontaminate_short_and_empty_eval_rows(spark):
    # eval rows shorter than n must be EXCLUDED (the exact operator's
    # match_short_eval=False contract) — an empty/whitespace eval row
    # must not poison the filter against empty corpus docs
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta"),
            (1, ""),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [("",), ("alpha beta",),
         ("one two three four five six seven eight nine ten",)],
        "text string",
    )
    surv = bloom_decontaminate(
        corpus, eval_df, n=8, num_bits=4096, num_hashes=5
    )
    assert sorted(r.doc_id for r in surv.collect()) == [0, 1]


def test_bloom_decontaminate_drops_null_id_docs(spark):
    """The exact operator's survivor rule: NULL corpus ids form one
    group, so a contaminated NULL-id doc drops instead of slipping
    through the anti-join."""
    corpus = spark.createDataFrame(
        [
            (None, "one two three four five six seven eight"),
            (1, "one two three four five six seven eight"),
            (2, "clean words that match nothing"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [("one two three four five six seven eight",)], "text string"
    )
    surv = bloom_decontaminate(
        corpus, eval_df, n=3, num_bits=1 << 14, num_hashes=3
    )
    assert [r.doc_id for r in surv.collect()] == [2]


def test_bloom_decontaminate_materialize_releases_cache(spark):
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    eval_df = corpus.filter(F.col("doc_id") % 37 == 0).select("text")
    out = bloom_decontaminate(
        corpus, eval_df, n=8, num_bits=1 << 16, num_hashes=5,
        materialize=True,
    )
    assert out.count() > 0  # materialized result is consumable


def test_hll_two_level_matches_single_pass(spark):
    from pyspark.sql import functions as F

    from polaroam_spark.operators.sketches import (
        hll_estimate,
        hll_partials,
    )

    rows = [(i % 7, i % 3, i % 500) for i in range(5000)]
    df = spark.createDataFrame(rows, "g long, shard long, v long")
    two_level = {
        r.g: r.approx_distinct
        for r in hll_estimate(
            hll_partials(df, ["g"], "v", "shard"), ["g"]
        ).collect()
    }
    single = {
        r.g: r.est
        for r in df.groupBy("g")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12)))
            .cast("long")
            .alias("est")
        )
        .collect()
    }
    # union changes the sketch's internal mode (sparse -> dense), so
    # sharded and single-shot estimates may differ slightly — both
    # must sit within the 5% band of the truth (500 distinct/group)
    exact = {
        r.g: r.n
        for r in df.groupBy("g")
        .agg(F.count_distinct("v").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        assert abs(two_level[g] - n) <= 0.05 * n, (g, two_level[g], n)
        assert abs(single[g] - n) <= 0.05 * n, (g, single[g], n)
    # estimates are NOT bit-stable under reordering (sketch build is
    # marginally input-order sensitive) — but the accuracy bound must
    # hold under any partitioning
    re_est = {
        r.g: r.approx_distinct
        for r in hll_estimate(
            hll_partials(df.repartition(13), ["g"], "v", "shard"),
            ["g"],
        ).collect()
    }
    for g, n in exact.items():
        assert abs(re_est[g] - n) <= 0.05 * n, (g, re_est[g], n)


def test_zorder_key_interleave_and_locality(spark):
    from pyspark.sql import functions as F

    from polaroam_spark.functions.distance import zorder_key

    # hand-computed 2-bit case over lat/lon ranges scaled to [0,4):
    # lat=-90 -> y=0, lon=-180 -> x=0 => z=0
    # y=3 (lat near +90), x=3 => z=0b1111=15
    df = spark.createDataFrame(
        [(0, -90.0, -180.0), (1, 89.9, 179.9), (2, None, 0.0)],
        "id long, lat double, lon double",
    )
    out = {
        r.id: r.z
        for r in df.select(
            "id", zorder_key("lat", "lon", 2).alias("z")
        ).collect()
    }
    assert out[0] == 0
    assert out[1] == 15
    assert out[2] is None
    # out-of-range clamps instead of wrapping
    clamped = (
        spark.createDataFrame([(200.0, 500.0)], "lat double, lon double")
        .select(zorder_key("lat", "lon", 2).alias("z"))
        .collect()[0].z
    )
    assert clamped == 15

    # locality: z-sorted neighbors are spatially closer than a
    # same-size random pairing
    import random

    rnd = random.Random(7)
    pts = [
        (i, rnd.uniform(-10, 10), rnd.uniform(-10, 10))
        for i in range(2000)
    ]
    pdf = spark.createDataFrame(pts, "id long, lat double, lon double")
    ordered = (
        pdf.select("lat", "lon", zorder_key("lat", "lon", 16).alias("z"))
        .orderBy("z")
        .collect()
    )
    d2 = lambda a, b: (a.lat - b.lat) ** 2 + (a.lon - b.lon) ** 2
    z_adj = sum(
        d2(ordered[i], ordered[i + 1]) for i in range(len(ordered) - 1)
    )
    shuffled = ordered[:]
    rnd.shuffle(shuffled)
    r_adj = sum(
        d2(shuffled[i], shuffled[i + 1]) for i in range(len(shuffled) - 1)
    )
    assert z_adj < r_adj / 5, (z_adj, r_adj)


# ---- Count-Min sketch ----------------------------------------------

from polaroam_spark.operators.sketches import (  # noqa: E402
    build_cms,
    cms_estimate,
    cms_params_for,
)


@pytest.mark.parametrize("n_parts", [1, 7])
@pytest.mark.parametrize("portable", [False, True])
def test_cms_guarantees(spark, n_parts, portable):
    items = _zipf_items(n=8000, n_items=300)
    n = len(items)
    width, depth = 256, 4
    df = spark.createDataFrame(
        [(x,) for x in items], "item string"
    ).repartition(n_parts)
    cms = build_cms(df, "item", width, depth, portable=portable)
    exact = {}
    for x in items:
        exact[x] = exact.get(x, 0) + 1
    probes = spark.createDataFrame(
        [(k, v) for k, v in exact.items()], "item string, exact long"
    )
    est = cms_estimate(
        probes, "item", cms, width, depth, portable=portable
    ).collect()
    import math as _m

    bound = (_m.e / width) * n
    over_bound = 0
    for r in est:
        assert r.cms_est >= r.exact, r  # never undercounts
        if r.cms_est - r.exact > bound:
            over_bound += 1
    # per-key failure probability e^-depth ~ 1.8%; allow 5% slack
    assert over_bound <= max(2, int(0.05 * len(est))), over_bound


def test_cms_partitioning_independent(spark):
    items = _zipf_items(n=3000, n_items=100)
    df1 = spark.createDataFrame(
        [(x,) for x in items], "item string"
    ).repartition(1)
    df7 = spark.createDataFrame(
        [(x,) for x in items], "item string"
    ).repartition(7)
    c1 = {
        (r.seed, r.bucket): r.cnt
        for r in build_cms(df1, "item", 64, 3).collect()
    }
    c7 = {
        (r.seed, r.bucket): r.cnt
        for r in build_cms(df7, "item", 64, 3).collect()
    }
    assert c1 == c7


def test_cms_merge_equals_single_build(spark):
    items = _zipf_items(n=4000, n_items=150)
    half = len(items) // 2
    mk = lambda xs: spark.createDataFrame(  # noqa: E731
        [(x,) for x in xs], "item string"
    )
    whole = {
        (r.seed, r.bucket): r.cnt
        for r in build_cms(mk(items), "item", 128, 4).collect()
    }
    a = build_cms(mk(items[:half]), "item", 128, 4)
    b = build_cms(mk(items[half:]), "item", 128, 4)
    merged = {
        (r.seed, r.bucket): r.cnt
        for r in a.unionByName(b)
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == whole


def test_cms_nulls_and_unseen(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,)], "item string"
    )
    cms = build_cms(df, "item", 64, 3)
    probes = spark.createDataFrame(
        [("a",), ("zzz-never-seen",), (None,)], "item string"
    )
    got = {
        r.item: r.cms_est
        for r in cms_estimate(probes, "item", cms, 64, 3).collect()
    }
    assert got["a"] >= 2
    assert got[None] == 0
    # unseen key may collide but with w=64,d=3 over 1 distinct item
    # all-empty buckets are overwhelmingly likely; accept >= 0
    assert got["zzz-never-seen"] >= 0


def test_cms_params_for():
    w, d = cms_params_for(0.001, 0.01)
    assert w == 2719 and d == 5
    with pytest.raises(ValueError):
        cms_params_for(0.0)
    with pytest.raises(ValueError):
        cms_params_for(0.1, 1.5)


def test_cms_bad_params(spark):
    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError):
        build_cms(df, "item", 1, 3)
    with pytest.raises(ValueError):
        build_cms(df, "item", 64, 0)
