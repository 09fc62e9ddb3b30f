"""Mergeable frequency/membership sketches for corpus-scale pipelines.

Two primitives the 100 TB training-data workflow needs that no
reference operator covers:

- :func:`heavy_hitters` — distributed Misra-Gries frequent-items
  summary. An exact ``groupBy(item).count()`` over a web-scale token
  stream shuffles one row per DISTINCT item (billions); Misra-Gries
  bounds the shuffle to ``capacity`` rows PER PARTITION with the
  classic deterministic guarantee (every item with true frequency
  > n/(capacity+1) survives, estimates undercount by at most
  n/(capacity+1)). Summaries are merged with the Agarwal et al.
  (PODS 2012, "Mergeable Summaries") counter-sum + compress rule, so
  the result is partitioning-independent in its guarantees.
- :func:`build_bloom` / :func:`probe_bloom` — a Bloom filter as a
  DataFrame: ``num_bits`` packed into ``num_bits/64`` ``(word_idx,
  bits)`` rows via ``bit_or`` aggregation. The filter for 100M keys
  at 16 bits/key is ~200 MB — broadcastable where the distinct-key
  set itself is not — and probing is ``num_hashes`` broadcast hash
  joins, no shuffle of the probed side and no UDF anywhere.
  :func:`bloom_decontaminate` applies it to benchmark
  decontamination: ONE-SIDED error (never misses a truly
  contaminated document; may over-drop a bounded-probability handful
  of clean ones), for an eval-side footprint of bits instead of a
  distinct 8-byte-hash set.

Both are pure-DataFrame ops; the only Python is the Arrow-batched
Misra-Gries partition loop (a per-partition dict fold that no
built-in aggregate expresses).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "heavy_hitters",
    "build_bloom",
    "probe_bloom",
    "bloom_bits_for",
    "bloom_decontaminate",
    "build_cms",
    "cms_estimate",
    "cms_params_for",
]


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    capacity: int = 64,
    top_k: int | None = None,
) -> DataFrame:
    """Misra-Gries frequent items over ``df[item_col]``.

    Returns ``(item_col, est_count)`` with the mergeable-summary
    guarantees, valid under ANY partitioning of the input:

    - ``est_count <= true_count`` (always an undercount);
    - ``true_count - est_count <= n / (capacity + 1)`` where ``n``
      is the total (non-null) item count;
    - therefore every item with ``true_count > n / (capacity + 1)``
      is present in the output.

    Plan shape: one ``mapInPandas`` pass folds each partition into at
    most ``capacity`` ``(item, count)`` rows (each Arrow batch is
    counted vectorized with ``value_counts`` and merged into the
    running summary; when the summary exceeds ``capacity`` the
    (capacity+1)-th largest counter is subtracted from all and
    non-positive counters dropped — the Misra-Gries step in its
    mergeable form). The partition summaries — at most
    ``capacity x num_partitions`` rows TOTAL, independent of both n
    and the distinct-item count — are then counter-summed with a
    plain ``groupBy(item).sum``. That second stage is itself a valid
    merge, so the output keeps the bound above with no final
    compression (it may hold up to ``capacity x num_partitions``
    items; pass ``top_k`` to truncate by descending estimate).

    Nulls are ignored. Use this when the distinct-item cardinality is
    the scaling problem (corpus token frequencies, URL hosts);
    when cardinality is modest, exact ``groupBy().count()`` with its
    map-side combine is already optimal — this is not a replacement
    for it.

    Tuning: prefer GENEROUS capacities (256-4096). The guarantee
    tightens linearly, the summary shuffle stays trivial, and the
    partition loop runs FASTER — the per-batch compress (a Python
    sort over the dict) only fires when the dict exceeds capacity,
    so capacity 256 measured half the wall of capacity 64 on a
    20M-row skewed stream (BASELINE.md round-5 sketch probe).
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    src = df.select(item_col).filter(F.col(item_col).isNotNull())
    out_schema = T.StructType(
        [src.schema[item_col], T.StructField("est_count", T.LongType())]
    )

    def _mg_partition(batches):
        # fully vectorized per batch: value_counts + index-aligned add
        # + nlargest compression — no per-item Python loop
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf[item_col].value_counts(dropna=True)
            counters = (
                vc
                if counters.empty
                else counters.add(vc, fill_value=0).astype("int64")
            )
            if len(counters) > capacity:
                cut = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        # empty partitions yield NOTHING: an empty int64-indexed
        # frame would fail Arrow conversion against a non-integer
        # item schema (and empty partitions are routine — filters,
        # shuffle_partitions > rows, empty streaming micro-batches)
        if len(counters):
            yield pd.DataFrame(
                {
                    item_col: counters.index,
                    "est_count": counters.to_numpy(dtype="int64"),
                }
            )

    merged = (
        src.mapInPandas(_mg_partition, schema=out_schema)
        .groupBy(item_col)
        .agg(F.sum("est_count").alias("est_count"))
    )
    if top_k is not None:
        merged = merged.orderBy(
            F.col("est_count").desc(), F.col(item_col).asc()
        ).limit(top_k)
    return merged


def _bloom_hash(value: Column, seed: Column | int, portable: bool) -> Column:
    from polaroam_spark.functions.text import portable_hash64

    if portable:
        return portable_hash64(value, seed)
    seed_col = F.lit(seed) if isinstance(seed, int) else seed
    # xxhash64 takes the seed as a column operand: hashing
    # (value, seed) varies the position per probe without a UDF
    return F.xxhash64(value, seed_col)


def _bloom_positions(
    value: Column, num_bits: int, num_hashes: int, portable: bool
) -> list[Column]:
    return [
        F.pmod(_bloom_hash(value, i, portable), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def build_bloom(
    df: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Build a Bloom filter over the distinct values of ``df[col]``.

    Returns ``(word_idx long, bits long)`` — the ``num_bits``-bit
    array packed 64 bits per row, rows present only for words with at
    least one set bit (probe treats an absent word as all-zero). At
    most ``num_bits / 64`` rows regardless of input size, built with
    one explode + ``bit_or`` aggregation; the map-side combine means
    the shuffle carries at most ``num_bits / 64`` rows PER PARTITION.

    Sizing: for ``n`` distinct keys and target false-positive rate
    ``p``, ``num_bits ~= -n ln p / (ln 2)^2`` and ``num_hashes ~=
    (num_bits/n) ln 2`` (10 bits/key + 7 hashes gives ~1%; 16
    bits/key + 3 hashes a comfortable ~0.6%).

    ``portable=True`` swaps xxhash64 for the md5-based
    ``portable_hash64`` so an external engine (DuckDB oracle) can
    reproduce positions bit-for-bit; xxhash64 is ~10x cheaper and the
    default where only Spark probes the filter.
    """
    if num_bits < 64:
        raise ValueError(f"num_bits must be >= 64, got {num_bits}")
    v = F.col(col)
    pos = F.explode(
        F.array(*_bloom_positions(v, num_bits, num_hashes, portable))
    ).alias("_pos")
    return (
        df.filter(v.isNotNull())
        .select(pos)
        .select(
            F.floor(F.col("_pos") / F.lit(64)).cast("long").alias(
                "word_idx"
            ),
            # SQL shiftleft: the pyspark wrapper only takes a Python
            # int shift, but the engine function shifts by a column
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"
            ).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("bits"))
    )


def probe_bloom(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    num_bits: int,
    num_hashes: int = 3,
    portable: bool = False,
    result_col: str = "bloom_maybe",
) -> DataFrame:
    """Append ``result_col`` (boolean): Bloom-filter membership of
    ``df[col]`` in a filter from :func:`build_bloom` (same
    ``num_bits`` / ``num_hashes`` / ``portable`` — positions are a
    function of all three, so mismatched parameters silently probe
    garbage; keep them together).

    False means DEFINITELY absent from the build set; true means
    present with false-positive probability set by the filter sizing.
    Null probe values yield false.

    Plan shape: ``num_hashes`` broadcast hash joins against the
    (<= ``num_bits``/64)-row filter — the probed side never shuffles,
    keeps all its columns (no row-identity requirement), and every
    bit test is a JVM bitwiseAND. An absent word row means no build
    value set any bit there: the left join's null bits read as 0.

    The per-probe key aliases make the ``num_hashes`` broadcast
    exchanges non-identical, so Spark's exchange reuse does NOT
    collapse them: an unpersisted ``bloom`` has its build subtree
    re-evaluated once per hash. Cheap for a one-shot probe (the
    build side is one scan + a tiny aggregate), but persist the
    filter (``session.materialize(bloom)``) when the build side is
    expensive or one filter serves many probe batches.
    """
    v = F.col(col)
    hits = []
    out = df
    for i, pos in enumerate(
        _bloom_positions(v, num_bits, num_hashes, portable)
    ):
        b = F.broadcast(
            bloom.select(
                F.col("word_idx").alias(f"_w{i}"),
                F.col("bits").alias(f"_bits{i}"),
            )
        )
        out = (
            out.withColumn(f"_p{i}", pos)
            .withColumn(
                f"_w{i}", F.floor(F.col(f"_p{i}") / F.lit(64)).cast("long")
            )
            .withColumn(
                f"_m{i}",
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))"
                ),
            )
            .join(b, on=f"_w{i}", how="left")
        )
        hits.append(
            F.coalesce(F.col(f"_bits{i}"), F.lit(0)).bitwiseAND(
                F.col(f"_m{i}")
            )
            == F.col(f"_m{i}")
        )
    maybe = v.isNotNull()
    for h in hits:
        maybe = maybe & h
    out = out.withColumn(result_col, maybe)
    return out.drop(
        *[
            c
            for i in range(num_hashes)
            for c in (f"_p{i}", f"_w{i}", f"_m{i}", f"_bits{i}")
        ]
    )


def bloom_bits_for(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: (num_bits, num_hashes) for ``n_keys``
    distinct keys at target false-positive rate ``fp_rate``, num_bits
    rounded up to a multiple of 64."""
    if n_keys < 1 or not (0.0 < fp_rate < 1.0):
        raise ValueError(f"bad sizing inputs n={n_keys} p={fp_rate}")
    m = math.ceil(-n_keys * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def bloom_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    num_bits: int = 1 << 22,
    num_hashes: int = 3,
    portable: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter of the eval
    set's word n-gram hashes — the memory-bounded variant of
    :func:`~polaroam_spark.operators.dedup.decontaminate`.

    The exact operator broadcasts the eval side's DISTINCT 64-bit
    gram hashes (8 bytes/gram — fine for benchmark-sized eval sets,
    heavy once the "eval" side is itself a corpus, e.g. held-out
    split decontamination). Here the eval grams fold into a
    ``num_bits``-bit filter instead (see :func:`build_bloom` sizing;
    default 4M bits = 512 KB), and corpus grams probe it with
    ``num_hashes`` broadcast joins.

    Error is ONE-SIDED by construction: a truly shared gram always
    probes true, so every document the exact operator drops is
    dropped here too (no contamination ever survives); a clean
    document is over-dropped only if >= ``min_overlap`` of its
    distinct grams all false-positive, probability <=
    C(grams, min_overlap) * fp^min_overlap. Returned survivors are
    therefore a subset of the exact survivors.

    Both sides go through the exact operator's gram core in
    :mod:`~polaroam_spark.operators.dedup` (one corpus tokenize, the
    ``(key…, gram-hash)`` explode with ``portable`` picking the hash,
    and the survivor rule: NULL corpus ids count as one document, so
    all of them drop once they reach ``min_overlap`` together).
    Short-eval semantics match the exact operator's
    ``match_short_eval=False`` contract exactly: every gram is
    exactly ``n`` tokens, so eval docs shorter than ``n`` tokens add
    nothing to the filter. (Folding a short doc's whole token
    sequence in instead — for an empty/whitespace eval row, the
    empty string — would deterministically over-drop every corpus
    doc sharing that degenerate gram: a probability-1 error class
    the fp bound above does not cover.)

    The filter frame is persisted internally — its eval-side
    tokenize/shingle/aggregate subtree is referenced once per hash
    by :func:`probe_bloom`, so an unpersisted bloom would be
    re-evaluated ``num_hashes`` times. ``materialize=False``
    (default) returns the lazy plan with the persist left to session
    cache eviction (right for interactive reuse);
    ``materialize=True`` computes survivors now, cuts lineage, and
    unpersists before returning — the right call inside a
    long-running loop (same contract as the dedup pair generators).
    """
    from polaroam_spark.functions.text import fast_hash64, portable_hash64
    from polaroam_spark.operators.dedup import (
        _corpus_tokens,
        _decontaminated,
        _gram_hashes,
        _item_tokens,
    )
    from polaroam_spark.session import materialize as materialize_df

    ghash = portable_hash64 if portable else fast_hash64
    eval_grams = _gram_hashes(
        _item_tokens(eval_df, eval_text_col), [], n, ghash
    ).distinct()
    bloom = build_bloom(
        eval_grams, "_gh", num_bits, num_hashes, portable
    ).persist()
    corpus_grams = _gram_hashes(
        _corpus_tokens(corpus, id_col, text_col, [n]), ["_cid"], n, ghash
    )
    probed = probe_bloom(
        corpus_grams, "_gh", bloom, num_bits, num_hashes, portable
    )
    counts = (
        probed.filter(F.col("bloom_maybe"))
        .groupBy("_cid")
        .agg(F.count("*").alias("n_overlap"))
    )
    survivors = _decontaminated(corpus, counts, id_col, min_overlap)
    if not materialize:
        return survivors
    out = materialize_df(survivors)
    bloom.unpersist()
    return out


def hll_partials(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    shard_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-(group, shard) HyperLogLog sketches (Apache DataSketches
    HLL via Spark's native ``hll_sketch_agg``): the first level of
    the two-level distinct-count pattern — each shard (a day, a
    source, an ingest batch) aggregates its own compact sketch
    (2^lg_k registers, ~4 KB at the default), and only sketches move
    thereafter. At 100 TB this replaces re-scanning history for every
    "distinct users to date" question: union yesterday's sketch with
    today's.
    """
    return df.groupBy(*group_cols, shard_col).agg(
        F.hll_sketch_agg(value_col, F.lit(int(lg_k))).alias("hll_sketch")
    )


def hll_estimate(
    partials: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Second level: union the per-shard sketches per group and read
    the estimate. The union keeps the standard HLL accuracy bound
    (~1.04/sqrt(2^lg_k) relative error) — sharding costs no accuracy
    class. Estimates are NOT bit-stable: sketch construction and
    union are marginally input-order sensitive (a few counts of
    drift between shardings/runs is normal); only the accuracy bound
    is the contract (pinned by test under re-partitioning). Where a
    gate needs determinism, certify a tolerance boolean, not the
    estimate value. Output: ``[*group_cols, approx_distinct]``.
    """
    return partials.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch"))
        .cast("long")
        .alias("approx_distinct")
    )


def _cms_bucket(
    value: Column, seed: int, width: int, portable: bool
) -> Column:
    # same hash family as the Bloom filter: non-negative, so % == pmod
    return F.pmod(_bloom_hash(value, seed, portable), F.lit(width))


def build_cms(
    df: DataFrame,
    item_col: str,
    width: int,
    depth: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Count-Min sketch over ``df[item_col]``: the point-frequency
    complement to :func:`heavy_hitters` (which only SURFACES frequent
    items — it cannot answer "how often did THIS key occur" for an
    arbitrary key without carrying the key).

    Returns ``(seed int, bucket long, cnt long)`` — at most
    ``depth x width`` rows total, independent of both the stream
    length and the distinct-item cardinality, with the standard CMS
    guarantee for any later estimate (Cormode & Muthukrishnan 2005):

    - ``estimate >= true_count`` (always an overcount — hash
      collisions only ADD);
    - ``estimate <= true_count + (e / width) * n`` with probability
      ``1 - e^-depth`` per key, where ``n`` is the total item count.

    Counter matrices are trivially mergeable (cell-wise sum), which
    is exactly what the plan does: each row explodes into its
    ``depth`` ``(seed, bucket)`` cells via one ``posexplode`` (no
    UDF), and the ``groupBy(seed, bucket).count()`` partial-aggregates
    map-side — the shuffle carries at most ``depth x width`` rows PER
    PARTITION no matter how many tokens flow through, the same
    envelope class as :func:`build_bloom`. Incremental corpora sum
    sketches from different ingest batches with a plain
    ``union -> groupBy(seed, bucket).sum`` — only sketches move, the
    two-level HLL pattern for frequencies.

    Nulls are ignored. ``portable=True`` swaps xxhash64 for the
    md5-based :func:`~polaroam_spark.functions.text.portable_hash64`
    so a DuckDB oracle replays every cell bit-for-bit; xxhash64 is
    the ~10x-cheaper default when only Spark probes the sketch.
    """
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    v = F.col(item_col)
    cell = F.posexplode(
        F.array(
            *[
                _cms_bucket(v, i, width, portable)
                for i in range(depth)
            ]
        )
    )
    return (
        df.filter(v.isNotNull())
        .select(cell.alias("seed", "bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    df: DataFrame,
    item_col: str,
    cms: DataFrame,
    width: int,
    depth: int = 4,
    portable: bool = False,
    result_col: str = "cms_est",
) -> DataFrame:
    """Append ``result_col`` (long): the Count-Min point estimate of
    ``df[item_col]``'s frequency in the stream ``cms`` was built over
    (same ``width`` / ``depth`` / ``portable`` — bucket positions are
    a function of all three; mismatched parameters silently probe
    garbage). Null items estimate 0 (so do never-seen items whose
    buckets all stayed empty — absent cells read as zero).

    Plan shape: ``depth`` broadcast hash joins against the
    (<= ``depth x width``)-row sketch, then a JVM ``least`` across
    the row's ``depth`` cell counts — the probed side never shuffles,
    keeps all its columns, and no UDF anywhere (the probe_bloom
    shape). Persist ``cms`` when one sketch serves many probe
    batches; the per-join key aliases keep the broadcast exchanges
    non-identical, so an unpersisted sketch re-evaluates per seed.
    """
    v = F.col(item_col)
    out = df
    cells = []
    for i in range(depth):
        side = F.broadcast(
            cms.filter(F.col("seed") == i).select(
                F.col("bucket").alias(f"_b{i}"),
                F.col("cnt").alias(f"_c{i}"),
            )
        )
        out = out.withColumn(
            f"_b{i}", _cms_bucket(v, i, width, portable)
        ).join(side, on=f"_b{i}", how="left")
        cells.append(F.coalesce(F.col(f"_c{i}"), F.lit(0)))
    est = F.least(*cells) if len(cells) > 1 else cells[0]
    out = out.withColumn(
        result_col,
        F.when(v.isNotNull(), est).otherwise(F.lit(0)).cast("long"),
    )
    return out.drop(
        *[c for i in range(depth) for c in (f"_b{i}", f"_c{i}")]
    )


def cms_params_for(
    eps: float, delta: float = 0.01
) -> "tuple[int, int]":
    """Standard CMS sizing: ``(width, depth)`` so that estimates
    overcount by at most ``eps * n`` with probability ``1 - delta``
    per key: ``width = ceil(e / eps)``, ``depth = ceil(ln(1/delta))``.
    At ``eps=1e-6`` (overcount <= n/1,000,000) the sketch is ~2.7M
    buckets x 5 rows — ~100 MB of longs, broadcastable where the
    distinct-key count table itself is not."""
    if not (0.0 < eps < 1.0) or not (0.0 < delta < 1.0):
        raise ValueError(f"bad sizing inputs eps={eps} delta={delta}")
    width = math.ceil(math.e / eps)
    depth = max(1, math.ceil(math.log(1.0 / delta)))
    return width, depth
