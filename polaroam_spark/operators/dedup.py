"""Deduplication operators for large-scale training-data pipelines.

Exact dedup groups on a text hash; every near-duplicate pair generator
is a bucketed ε-neighbour search — the same shape as a radius query
over a partitioned index: put each item in one or more buckets, pair
the items that share a bucket, then verify each candidate pair with an
exact score. No all-pairs comparison ever materializes: the shuffle
key is the bucket, skew is bounded by bucket width, and verification
cost is proportional to candidate pairs, not n².

One core serves the MinHash LSH (band buckets), fingerprint-Hamming
(chunk buckets) and embedding (hyperplane buckets) generators, and the
two-table embedding join in :mod:`~polaroam_spark.operators.similarity`:

- :func:`_bucket_stats` — bucket size ``_bn`` and representative
  ``_rep`` (the min id, or the min ``(id, payload)`` struct) from one
  partition-only window over the bucket keys;
- :func:`_candidates` — the normal-bucket self-join (``id_a < id_b``)
  unioned with the hot-bucket star pairs ``(rep, id)``, carrying the
  payload (fingerprint or vector) when there is one;
- :func:`_hot_guard` — the one-sided guard: keep normal buckets whole
  and only the representative of each hot bucket;
- :func:`_jaccard_verify` — the exact shingle-set Jaccard verify of
  every MinHash path; :func:`_minhash_self_pairs` is the one
  within-table MinHash pair generator (batch and incremental);
  :func:`_verify_then_dedup` is the Hamming and cosine verify.

Each family keeps its bucket keys, its verify expression and its
verify/dedup order (MinHash dedups candidates before the two shingle
joins; Hamming and cosine are pure functions of the carried payload,
so they verify first and dedup the narrow verified rows). Persists
stay with the callers. The n-gram scorers are an inverted-index join
(:func:`_gram_pair_counts`) with a document-frequency cap instead of
a star guard.

No reference counterpart (the reference is a mobility engine); these
are the beyond-reference components required by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polaroam_spark.functions.text import (
    band_hashes,
    jaccard,
    minhash_signature,
    ngram_set,
    tokens,
    word_shingles,
)
from polaroam_spark.session import materialize as materialize_df


def _finalize_pairs(
    result: DataFrame, caches: list[DataFrame], eager: bool
) -> DataFrame:
    """Cache-lifecycle contract of the pair generators' ``materialize``
    option. ``eager=False`` (default): return the lazy plan — the
    intermediate persists (signature / band frames, referenced by
    multiple plan branches) stay alive until session cache eviction,
    which is right for interactive reuse. ``eager=True``: compute the
    result now (lineage cut via session.materialize, so the returned
    frame no longer references the caches) and unpersist the
    intermediates before returning — the right call for a long-running
    ingest loop that would otherwise accumulate executor storage on
    every batch (streaming_dedup_incremental does exactly this per
    micro-batch)."""
    if not eager:
        return result
    out = materialize_df(result)
    for c in caches:
        c.unpersist()
    return out


def _shingle_set(
    text_col: str,
    shingle_k: int,
    portable: bool,
    toks: "F.Column | None" = None,
) -> F.Column:
    """Distinct shingle set of a document — THE shared representation
    between :func:`minhash_lsh_pairs` and :func:`build_minhash_index`
    (batch and index signatures must agree bit-for-bit, see the index
    version contract there).

    ``portable=True`` keeps STRING shingles: the signature hash is the
    md5-folded portable_hash64 a DuckDB oracle reproduces bit-for-bit.
    ``portable=False`` is the fast path: fold each shingle string to
    ONE 64-bit xxhash64 up front, then run the seeded signature hashes
    over the 8-byte longs instead of re-hashing the ~25-byte string
    per seed (~5% wall at sf0.1; grows with num_hashes and shingle
    length). The exact-Jaccard verify then intersects long sets —
    identical up to 64-bit collisions (~1e-10 at corpus scale).

    ``toks``: a pre-projected ``tokens(text_col)`` COLUMN reference.
    Pass it from any per-row hot path (r20, the scorer-base lesson):
    higher-order lambdas are CodegenFallback with no common-
    subexpression elimination, and ``word_shingles`` references its
    token array ``k+1`` times — inlined, the lower+split+filter chain
    re-runs per reference. ``text_col`` is ignored when given."""
    base = tokens(text_col) if toks is None else toks
    if portable:
        return F.array_distinct(
            word_shingles(base, shingle_k, assume_no_nulls=True)
        )
    return F.array_distinct(
        F.transform(
            word_shingles(base, shingle_k, assume_no_nulls=True),
            lambda t: F.xxhash64(t),
        )
    )


#: LSH band bucket keys of the MinHash paths
_BAND_KEYS = ["band", "bucket"]


def _bucket_stats(
    df: DataFrame, keys: list[str], payload: str | None = None
) -> DataFrame:
    """Add the bucket size ``_bn`` and representative ``_rep`` to a
    bucketed frame of ``_id`` rows. ``_rep`` is the bucket's min id,
    or with ``payload`` the min ``struct(_id, payload)`` — the
    representative's id AND payload in one pass (ids are distinct, so
    the payload never compares). A partition-only window: no
    driver-side key collection, and no shuffle beyond the bucket key
    the pair join shuffles on anyway."""
    w = Window.partitionBy(*keys)
    rep = F.min("_id") if payload is None else F.min(F.struct("_id", payload))
    return df.withColumns(
        {"_bn": F.count("*").over(w), "_rep": rep.over(w)}
    )


def _candidates(
    b: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    payload: str | None = None,
) -> DataFrame:
    """Candidate pairs ``id_a, id_b`` (plus ``<payload>a`` and
    ``<payload>b`` with a payload) of a :func:`_bucket_stats` frame.

    Degenerate-bucket guard: a bucket holding B items (constant
    boilerplate, a constant fingerprint chunk, a pile of template
    vectors) would emit B²/2 candidates from ONE join task. Buckets
    over ``max_bucket_size`` therefore switch to a star: every member
    pairs with the representative only (B-1 candidates, still
    verified). Member-member pairs inside a hot bucket are not
    emitted, but they collapse to the same representative, so dedup
    semantics survive; :func:`duplicate_components` gives the full
    closure. Normal buckets self-join with ``id_a < id_b``. Pairs may
    repeat across buckets; the caller dedups them before or after its
    verify."""
    normal = b.filter(F.col("_bn") <= max_bucket_size)
    hot = b.filter(F.col("_bn") > max_bucket_size)
    rep_id = F.col("_rep") if payload is None else F.col("_rep._id")
    pair_payload, star_payload = [], []
    if payload is not None:
        pair_payload = [
            F.col(f"a.{payload}").alias(f"{payload}a"),
            F.col(f"b.{payload}").alias(f"{payload}b"),
        ]
        star_payload = [
            F.col(f"_rep.{payload}").alias(f"{payload}a"),
            F.col(payload).alias(f"{payload}b"),
        ]
    pairs = (
        normal.alias("a")
        .join(normal.alias("b"), on=keys, how="inner")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            *pair_payload,
        )
    )
    star = hot.filter(F.col("_id") != rep_id).select(
        rep_id.alias("id_a"), F.col("_id").alias("id_b"), *star_payload
    )
    return pairs.unionByName(star)


def _hot_guard(b: DataFrame, max_bucket_size: int) -> DataFrame:
    """One-sided hot-bucket guard of a :func:`_bucket_stats` frame
    (id-only ``_rep``) that probes ANOTHER table: normal buckets stay
    whole, a hot bucket keeps only its min-id member. This bounds the
    probe's fan-out at the cost of a bounded miss: the dropped members
    still reach the other table through their other buckets, if any."""
    return b.filter(
        (F.col("_bn") <= F.lit(max_bucket_size))
        | (F.col("_id") == F.col("_rep"))
    )


def _jaccard_verify(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard verify of candidate pairs ``id_a,
    id_b``: each side's ``(_id, _shingles)`` joins on its id, pairs
    under ``threshold`` drop. Returns ``id_a, id_b, jaccard_sim``."""
    return (
        cand.join(
            sh_a.select(
                F.col("_id").alias("id_a"),
                F.col("_shingles").alias("_sh_a"),
            ),
            on="id_a",
        )
        .join(
            sh_b.select(
                F.col("_id").alias("id_b"),
                F.col("_shingles").alias("_sh_b"),
            ),
            on="id_b",
        )
        .withColumn("jaccard_sim", jaccard("_sh_a", "_sh_b"))
        .filter(F.col("jaccard_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard_sim")
    )


def _band_keys(sh: DataFrame, bands: int) -> DataFrame:
    """``(_id, band, bucket)``: one row per LSH band of each ``_sig``."""
    return sh.select(
        "_id", F.explode(band_hashes("_sig", bands)).alias("_band")
    ).select("_id", "_band.band", "_band.bucket")


def _minhash_self_pairs(
    sh: DataFrame,
    banded: DataFrame,
    jaccard_threshold: float,
    max_bucket_size: int,
) -> DataFrame:
    """Verified within-table MinHash pairs ``id_a, id_b, jaccard_sim``
    of a signature frame ``sh`` (``_id, _shingles, ...``) and its
    :func:`_band_keys` + :func:`_bucket_stats` frame ``banded``.
    Candidates dedup BEFORE the verify: the verify joins the shingle
    arrays in, so each distinct pair should fetch them once."""
    cand = _candidates(banded, _BAND_KEYS, max_bucket_size).dropDuplicates(
        ["id_a", "id_b"]
    )
    return _jaccard_verify(cand, sh, sh, jaccard_threshold)


def _verify_then_dedup(
    cand: DataFrame, name: str, score: F.Column, keep: F.Column
) -> DataFrame:
    """Score payload-carrying candidates as ``name``, keep the rows
    passing ``keep``, then dedup pairs. Verify BEFORE the dedup (guide
    §2.3 "aggregate/filter before you shuffle"): the score is a pure
    function of the pair, so filtering first cannot change the
    deduplicated set — but it runs map-side, drops every failing
    candidate before the exchange, and narrows the shuffled row to
    ``(id_a, id_b, name)`` instead of both payloads. (Multi-bucket
    repeats of a pair carry identical scores, so the kept row is
    identical too.)"""
    return (
        cand.withColumn(name, score)
        .filter(keep)
        .select("id_a", "id_b", name)
        .dropDuplicates(["id_a", "id_b"])
    )


def _greedy_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str, loser: str = "id_b"
) -> DataFrame:
    """The greedy survivor rule: drop every row of ``docs`` whose id
    appears as a pair's ``loser`` (the larger id of a verified pair,
    or the new side of an incremental pair). A left-anti join against
    the distinct loser ids — document bodies never shuffle."""
    losers = pairs.select(F.col(loser).alias(id_col)).dropDuplicates()
    return docs.join(losers, on=id_col, how="left_anti")


def normalize_text(text_col) -> F.Column:
    """Canonical text form for exact dedup: lowercase, collapse
    whitespace, trim."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = True,
) -> DataFrame:
    """Exact dedup: keep the smallest-id document per (normalized)
    text. groupBy on the text hash — one shuffle, map-side partial
    aggregation, deterministic representative.

    NULL-text documents all survive: null means "text unknown", not
    "texts identical" (md5(NULL) is NULL, and grouping the NULL key
    would silently keep only one of them). Empty-string documents DO
    deduplicate against each other — their texts are literally equal.

    Returns the surviving rows of ``docs``.
    """
    key = normalize_text(text_col) if normalized else F.col(text_col)
    # shuffle the 32-byte md5 of the text, not the text itself — at
    # corpus scale the dedup shuffle must not carry document bodies
    keyed = docs.withColumn("_key", F.md5(key))
    keep = (
        keyed.filter(F.col("_key").isNotNull())
        .groupBy("_key")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return keyed.filter(F.col("_key").isNull()).drop("_key").unionByName(
        docs.join(keep, on=id_col, how="left_semi")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 1000,
    portable: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Plan: shingle → minhash signature (arrays, JVM-side) → explode
    band keys → self-equi-join on (band, bucket) → dedupe candidate
    pairs → verify with exact Jaccard on distinct shingle sets.
    Output: ``id_a, id_b, jaccard_sim`` with id_a < id_b and
    jaccard_sim ≥ threshold.

    Hot buckets (over ``max_bucket_size`` documents — constant
    boilerplate such as cookie banners and license headers lands
    thousands of near-identical docs in one band bucket) switch to
    star pairs against the bucket's min-id document (see
    :func:`_candidates`); feed the pairs to
    :func:`duplicate_components` for the full transitive closure.
    """
    from ..session import fan_out

    # fan_out BEFORE the signature compute (guide §2.5): shingling +
    # num_hashes MinHash passes are the heaviest per-row work in this
    # operator, and a single-row-group input (any local parquet under
    # ~128 MB is one split) serializes it onto one task — measured ~2x
    # the row wall. Projected to the two needed columns first (§2.3),
    # so the exchange moves id+text only; at corpus scale the input
    # already has >= cores splits and fan_out adds nothing. The token
    # array is projected into its OWN column below the shingle
    # projection (see _shingle_set's ``toks``): inlined, the
    # CodegenFallback tokenize chain re-ran once per word_shingles
    # slice.
    sh = fan_out(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col))
    ).select(
        "_id", tokens(F.col(text_col)).alias("_toks")
    ).select(
        "_id",
        _shingle_set(
            text_col, shingle_k, portable, toks=F.col("_toks")
        ).alias("_shingles"),
    ).withColumn(
        "_sig",
        minhash_signature("_shingles", num_hashes, portable=portable),
    )
    # persist is load-bearing: the signature arrays are referenced on
    # BOTH sides of the band self-join and both verification joins;
    # without it the hash computation runs 4x (measured 10x slower at
    # sf0.1). Unlike cheap window lineages (see BASELINE.md), here the
    # lineage above the reuse point is expensive per-row compute.
    # Cache lifetime: with the default lazy return the cache lives
    # until session eviction; pass ``materialize=True`` to compute the
    # result eagerly and release all intermediate caches before
    # returning (see _finalize_pairs).
    sh = sh.persist()
    # persist: referenced by both self-join sides AND the hot path —
    # exchange reuse does NOT kick in here (verified on the executed
    # adaptive plan: 3 Window nodes, 0 ReusedExchange), so without the
    # persist the explode + band-hash + window shuffle runs three
    # times. At corpus scale three shuffles of the banded table vs one
    # is not a wash. The frame is five narrow columns.
    banded = _bucket_stats(_band_keys(sh, bands), _BAND_KEYS).persist()
    verified = _minhash_self_pairs(
        sh, banded, jaccard_threshold, max_bucket_size
    )
    return _finalize_pairs(verified, [sh, banded], materialize)


def dedup_minhash_lsh(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: any document with a verified duplicate of
    smaller id is removed (greedy min-id representative; transitive
    chains collapse toward the smallest id in one pass over pairs —
    for full transitive closure feed the pairs to connected
    components, the same primitive as
    clustering.cluster_stops_dbscan_distributed).
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, **kwargs)
    return _greedy_survivors(docs, pairs, id_col)


def _survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    transitive: bool,
    keep: str = "min_id",
) -> DataFrame:
    """Shared survivor policy of the corpus-level dedup composites
    (:func:`near_dedup_corpus`, :func:`semantic_dedup`): with
    ``transitive``, close the pairs into components and keep ONE
    member per component — the smallest id (``keep='min_id'``,
    default) or the member maximizing a quality column of ``docs``
    named by ``keep`` (the RefinedWeb-style "keep the best copy"
    rule; NULL scores rank lowest, score ties break to the smallest
    id, an all-NULL component degrades to min-id). Without
    ``transitive``, the greedy drop-any-doc-with-a-smaller-id-
    duplicate rule applies (chain-sensitive, see the callers'
    docstrings); a quality ``keep`` requires the closure — greedy
    pair order has no component to pick a best member from.

    Scale shape of keep-best: the closure's (member, representative)
    frame joins the PROJECTED (id, score) columns only, then two
    narrow component-keyed aggregates pick the winner — document
    bodies never shuffle; the final step stays a left-anti join.
    Returns the surviving rows of ``docs``."""
    if not transitive:
        if keep != "min_id":
            raise ValueError(
                "keep-best survivor selection needs transitive=True:"
                " the greedy rule has no duplicate component to pick"
                f" a best member from (got keep={keep!r})"
            )
        return _greedy_survivors(docs, pairs, id_col)
    comp = duplicate_components(pairs)
    if keep == "min_id":
        losers = comp.filter(
            F.col("doc_id") != F.col("representative")
        ).select(F.col("doc_id").alias(id_col))
        return docs.join(losers, on=id_col, how="left_anti")
    scored = comp.join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(keep).alias("_score")
        ),
        on="doc_id",
        how="left",
    )
    best = scored.groupBy("representative").agg(
        F.max("_score").alias("_best")
    )
    # eqNullSafe: an all-NULL-score component has _best NULL and every
    # member matches -> winner falls back to the smallest id
    winners = (
        scored.join(best, on="representative")
        .filter(F.col("_score").eqNullSafe(F.col("_best")))
        .groupBy("representative")
        .agg(F.min("doc_id").alias("_winner"))
    )
    losers = (
        scored.join(winners, on="representative")
        .filter(F.col("doc_id") != F.col("_winner"))
        .select(F.col("doc_id").alias(id_col))
    )
    return docs.join(losers, on=id_col, how="left_anti")


def near_dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "minhash",
    transitive: bool = True,
    keep: str = "min_id",
    **kwargs,
) -> DataFrame:
    """End-to-end corpus near-deduplication: candidate pairs →
    transitive closure → survivors. This is the composed operation a
    training-data pipeline actually runs — one canonical document
    (the component's smallest id) survives per duplicate CLUSTER, so
    a~b, b~c collapses {a,b,c} to {a} even when a and c were never a
    candidate pair. ``keep`` picks the cluster survivor: the smallest
    id (default) or the member maximizing a quality column of
    ``docs`` (``keep='quality_score'`` / ``keep='n_chars'`` — the
    RefinedWeb-style keep-the-best-copy rule; see
    :func:`_survivors` for the NULL/tie contract).

    ``method`` picks the pair generator: ``minhash`` (probabilistic,
    the 100 TB path) or ``ngram`` (exact n-gram Jaccard — fully
    SQL-expressible, so the whole pipeline including the closure is
    oracle-checkable). Extra kwargs flow to the generator.

    ``transitive=False`` degrades to the greedy one-pass rule (drop
    any doc with a verified smaller-id duplicate) — cheaper (no
    iteration) but chain-sensitive: with pairs (a,c),(b,c) only, the
    greedy rule keeps both a and b; the closure collapses to a.

    Scale shape: pair generation is bucket-keyed (see module
    docstring), the closure is O(log n) rounds of star contraction
    over (node, node) pairs (operators/graph.py), and the final step
    is a left-anti join of the corpus against the loser-id set —
    document bodies are never shuffled.
    """
    if method == "minhash":
        pairs = minhash_lsh_pairs(docs, text_col, id_col, **kwargs)
    elif method == "ngram":
        pairs = ngram_jaccard_pairs(docs, text_col, id_col, **kwargs)
    else:
        raise ValueError(f"Unsupported near-dedup method: {method}")
    return _survivors(docs, pairs, id_col, transitive, keep=keep)


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Transitive closure of a duplicate-pair table. Output: ``doc_id,
    representative`` where representative is the smallest id in each
    connected component — turns pairwise near-dup hits into proper
    duplicate CLUSTERS (a-b, b-c ⇒ {a,b,c} all map to a).

    Runs alternating large-star/small-star contraction
    (:mod:`polaroam_spark.operators.graph`), which converges in
    O(log n) rounds rather than the O(chain length) of naive label
    propagation — a boilerplate-heavy web corpus legitimately chains
    hundreds of near-dup hops, and per-hop iteration is the scale
    failure mode there.

    ``max_iterations`` bounds STAR ROUNDS: each round at least halves
    component-tree height, so N rounds cover ~2^N-node components and
    a larger component raises ``RuntimeError``. Size it as
    ``ceil(log2(max component size)) + 2``; the default needs no
    tuning at any realistic scale.
    """
    from polaroam_spark.operators.graph import connected_components

    labels = connected_components(
        pairs, src=id_a, dst=id_b, max_rounds=max_iterations
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("representative"),
    )


def simhash_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    portable: bool = False,
) -> DataFrame:
    """SimHash fingerprint per document: sign-sum of per-token hash
    bits. For each bit b, count tokens whose hash has bit b set vs
    unset; fingerprint bit b = 1 iff set-count > unset-count. Built
    from explode + groupBy-sum (two narrow shuffles keyed by doc id)
    rather than per-row loops, so it is pure codegen.
    Output: ``doc_id, simhash`` (long).

    ``portable=True`` swaps the token hash from xxhash64 to the
    md5-folded :func:`~polaroam_spark.functions.text.portable_hash64`
    (seed 7) so a DuckDB oracle can reproduce the fingerprint
    bit-for-bit; xxhash64 stays the production default.

    Token-less documents (NULL/empty/whitespace text) keep their row
    with fingerprint 0 — ``explode_outer`` emits one null-token row
    whose per-bit contribution falls through to -1, so every bit
    votes unset. A plain ``explode`` would silently drop such docs
    from the output, breaking the one-row-per-document contract (and
    :func:`simhash_pairs` then correctly pairs mutually-empty docs at
    hamming distance 0, matching the minhash path's treatment).
    """
    from polaroam_spark.functions.text import portable_hash64

    tok = docs.select(
        F.col(id_col),
        F.explode_outer(tokens(text_col)).alias("_tok"),
    ).withColumn(
        "_h",
        # null-guarded: portable_hash64 concat_ws-skips a NULL token
        # (hashing just the seed), which would give portable empty
        # docs a nonzero fingerprint while xxhash64 propagates null —
        # pin both paths to null hash -> all bits vote -1 -> 0
        F.when(
            F.col("_tok").isNotNull(),
            portable_hash64("_tok", 7)
            if portable
            else F.xxhash64("_tok", F.lit(7)),
        ),
    )
    bit_contrib = [
        F.sum(
            F.when(F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_contrib)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(2 ** b)).otherwise(0)
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(
        F.col(id_col), fingerprint.cast("long").alias("simhash")
    )


def fingerprint_hamming_pairs(
    fingerprints: DataFrame,
    fp_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int = 1000,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs for ANY precomputed integer fingerprint
    column (SimHash, image dHash, audio chromaprint-style hashes…):
    candidates share at least one of ``chunks`` fingerprint chunks
    (pigeonhole: any pair within hamming distance < chunks shares a
    chunk), verified by exact hamming distance via bit_count(xor).
    Output: ``id_a, id_b, hamming`` (≤ max_hamming). This is the
    machinery behind :func:`simhash_pairs`, exposed for fingerprints
    Spark cannot derive from text (e.g.
    :func:`~polaroam_spark.operators.multimodal.image_neardup_pairs`
    feeds perceptual hashes through it). NULL fingerprints are
    dropped (undecodable media can't be near anything).

    Requires ``1 <= chunks <= bits <= 64``: each chunk is
    ``bits // chunks`` bits wide, so more chunks than bits would make
    every chunk value 0 and put every document in one bucket.

    Same degenerate-bucket guard as :func:`minhash_lsh_pairs`: a
    (chunk, value) bucket holding B rows — constant regions drive a
    chunk to a constant — switches to star pairs against the
    bucket's min-id member, still hamming-verified (see
    :func:`_candidates`).

    ``id_col`` is assumed to identify a document (one fingerprint
    per id). Duplicate-id inputs resolve each pair ANY-MATCH — the
    pair is emitted if any of an id's fingerprints passes the
    hamming gate (the verify-before-dedup order); this is
    nondeterministic under duplicate ids and not contractual.
    """
    if not 1 <= chunks <= bits <= 64:
        raise ValueError(
            f"need 1 <= chunks <= bits <= 64 (got chunks={chunks}, "
            f"bits={bits}): a chunk must hold at least one bit of a "
            "64-bit fingerprint"
        )
    if max_hamming >= chunks:
        raise ValueError(
            f"pigeonhole requires chunks > max_hamming (got "
            f"chunks={chunks}, max_hamming={max_hamming}): a pair at "
            f"distance {max_hamming} may share no chunk otherwise"
        )
    fp = fingerprints.filter(F.col(fp_col).isNotNull())
    chunk_bits = bits // chunks
    # a full 64-bit chunk's mask is all ones: -1 as a signed long
    mask = -1 if chunk_bits == 64 else (1 << chunk_bits) - 1
    chunked = fp.select(
        F.col(id_col).alias("_id"),
        F.col(fp_col).alias("_f"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(fp_col, c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_f", "_c.chunk", "_c.val")
    keys = ["chunk", "val"]
    chunked = _bucket_stats(chunked, keys, payload="_f")
    # referenced by both self-join sides + the hot path (see the
    # minhash persist note). Materialized EAGERLY: the self-join needs
    # no exchange (the window already partitioned by (chunk, val)), so
    # both sides' InMemoryTableScan iterators open inside the SAME
    # task and race a cold cache — the full fingerprint lineage (for
    # images: decode + dHash, the heaviest stage of the operator) ran
    # once per side on top of the window build (~3x total,
    # stage-profiled on the image bench row). One count() builds the
    # cache once; the join then reads it.
    chunked = chunked.persist()
    chunked.count()
    verified = _verify_then_dedup(
        _candidates(chunked, keys, max_bucket_size, payload="_f"),
        "hamming",
        F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))),
        F.col("hamming") <= F.lit(max_hamming),
    )
    return _finalize_pairs(verified, [chunked], materialize)


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int = 1000,
    portable: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: fingerprint per document
    (:func:`simhash_fingerprint`), then the shared chunk-bucket
    pigeonhole machinery (:func:`fingerprint_hamming_pairs` — see it
    for the candidate/verify/hot-bucket semantics).
    Output: ``id_a, id_b, hamming`` (≤ max_hamming)."""
    fp = simhash_fingerprint(
        docs, text_col, id_col, bits, portable=portable
    )
    return fingerprint_hamming_pairs(
        fp,
        "simhash",
        id_col=id_col,
        bits=bits,
        max_hamming=max_hamming,
        chunks=chunks,
        max_bucket_size=max_bucket_size,
        materialize=materialize,
    )


#: Default document-frequency cap for ngram_jaccard_pairs: one gram
#: shared by B documents contributes B²/2 inverted-index join rows,
#: so an uncapped run on web text melts on "the of the". 10k bounds
#: any single gram's fan-out at ~5e7 rows across the cluster while
#: leaving every plausibly-discriminative gram intact.
DEFAULT_MAX_GRAM_DF = 10_000


def _gram_pair_counts(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_col: str | None,
    max_gram_df: int | None | str,
) -> DataFrame:
    """Shared inverted-index scaffolding of the n-gram pair scorers
    (:func:`ngram_jaccard_pairs` and :func:`containment_pairs`):
    explode distinct n-grams, optionally prune grams whose document
    frequency exceeds ``max_gram_df`` (``"auto"`` =
    :data:`DEFAULT_MAX_GRAM_DF`) from the INDEX side (denominator
    sizes still count every gram — scores become lower bounds, never
    false positives), self-equi-join on the gram (+ optional blocking
    key), and count shared grams per ``id_a < id_b`` pair. Returns
    ``[id_a, id_b, _inter, _na, _nb]`` for the caller's scorer."""
    if max_gram_df == "auto":
        max_gram_df = DEFAULT_MAX_GRAM_DF
    grams = docs.select(
        F.col(id_col).alias("_id"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
        F.explode(ngram_set(text_col, n)).alias("_gram"),
    )
    sizes = grams.groupBy("_id").agg(F.count("*").alias("_n"))
    if max_gram_df is not None:
        rare = (
            grams.groupBy("_gram")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= int(max_gram_df))
            .select("_gram")
        )
        grams = grams.join(rare, on="_gram", how="left_semi")
    join_keys = ["_gram"] + (["_blk"] if block_col else [])
    shared = (
        grams.alias("a")
        .join(grams.alias("b"), on=join_keys, how="inner")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count("*").alias("_inter"))
    )
    return shared.join(
        sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")),
        on="id_a",
    ).join(
        sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")),
        on="id_b",
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_gram_df: int | None | str = "auto",
) -> DataFrame:
    """n-gram Jaccard duplicate pairs via an inverted-index join:
    explode distinct n-grams, self-join on the n-gram (the inverted
    index), count shared grams per pair, then
    ``|A∩B| / (|A| + |B| - |A∩B|)``. Fully relational — this is the
    oracle-checkable twin of the MinHash path. ``block_col``
    optionally restricts candidates to equal blocking keys to bound
    the index fan-out on huge corpora.

    ``max_gram_df`` prunes grams whose document frequency exceeds the
    cap from the INDEX side only (a gram in B docs contributes B²/2
    index join rows — "the of the" melts the join at corpus scale).
    Denominator sizes still count every gram, so reported
    ``jaccard_sim`` becomes a LOWER bound for pairs that share pruned
    grams — no false positives appear above ``threshold``, at the
    cost of possibly missing pairs whose overlap is mostly
    stop-grams. The default ``"auto"`` applies
    ``DEFAULT_MAX_GRAM_DF`` so a bare production call survives web
    text; use :func:`ngram_jaccard_pairs_exact` (``max_gram_df=None``)
    when exact Jaccard on every pair is required — that variant is
    what the d4/d6/k4 oracle gates pin."""
    return (
        _gram_pair_counts(docs, text_col, id_col, n, block_col, max_gram_df)
        .withColumn(
            "jaccard_sim",
            F.col("_inter")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")),
        )
        .filter(F.col("jaccard_sim") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard_sim")
    )


def ngram_jaccard_pairs_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact-semantics variant of :func:`ngram_jaccard_pairs`
    (``max_gram_df=None``): every shared gram counts, so
    ``jaccard_sim`` is the true Jaccard for every pair. Quadratic in
    the hottest gram's document frequency — intended for bounded
    corpora, blocked runs (``block_col``), and oracle twins, not for
    bare web-scale text."""
    return ngram_jaccard_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        n=n,
        threshold=threshold,
        block_col=block_col,
        max_gram_df=None,
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_gram_df: int | None | str = "auto",
) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram CONTAINMENT:
    ``|A∩B| / min(|A|, |B|)`` — the Broder containment coefficient.
    Catches the duplicate class Jaccard structurally misses: a short
    document embedded verbatim inside a much longer one (quote
    farms, boilerplate-wrapped reposts, chunk-of-a-book pages) has
    Jaccard ≈ |A|/|B| → 0 but containment ≈ 1. Returns
    ``[id_a, id_b, containment, n_a, n_b]`` with ``id_a < id_b``;
    the SMALLER gram set's size is the denominator, so a row reads
    "the smaller document is ``containment``-contained in the
    larger".

    Same inverted-index join shape as
    :func:`ngram_jaccard_pairs` (explode distinct grams →
    self-equi-join on the gram → count per pair), so the same scale
    guards apply: ``max_gram_df`` caps the per-gram fan-out from the
    index side (default :data:`DEFAULT_MAX_GRAM_DF` — under the cap
    ``containment`` is a lower bound, no false positives above
    ``threshold``), and ``block_col`` confines candidates to equal
    blocking keys. Pass ``max_gram_df=None`` for exact semantics on
    bounded corpora (what the d11 oracle gate pins).
    """
    return (
        _gram_pair_counts(docs, text_col, id_col, n, block_col, max_gram_df)
        .withColumn(
            "containment",
            F.col("_inter") / F.least(F.col("_na"), F.col("_nb")),
        )
        .filter(F.col("containment") >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            "containment",
            F.col("_na").alias("n_a"),
            F.col("_nb").alias("n_b"),
        )
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.98,
    num_planes: int = 8,
    max_bucket_size: int = 1000,
    materialize: bool = False,
    scorer: str = "native",
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucketed cosine. Candidates
    share a random-hyperplane sign bucket (deterministic pseudo-random
    planes), verified with exact cosine. See
    operators/similarity.py for the bucketing primitive.

    Hot buckets (> ``max_bucket_size`` vectors — e.g. a pile of
    template embeddings hashing identically) take star pairs against
    the bucket's min-id vector instead of the B²/2 self-join (see
    :func:`_candidates`). All-zero vectors score NULL and never pair.

    ``scorer='arrow'`` swaps the verification cosine for the
    numpy/BLAS pandas UDF (similarity.py's scale knob) — candidate
    verification is this operator's dot-product hot loop; keep
    ``'native'`` where the SQL oracle must reproduce scores
    bit-for-bit.

    ``id_col`` is assumed to identify a vector (one embedding per
    id). Duplicate-id inputs resolve each pair ANY-MATCH — emitted
    if any of an id's vectors clears the cosine threshold (the
    verify-before-dedup order) — rather than by an arbitrary
    surviving duplicate; this is nondeterministic under duplicate ids
    and not contractual.
    """
    from polaroam_spark.functions.vectors import make_scorer
    from polaroam_spark.operators.similarity import add_lsh_bucket

    score = make_scorer(scorer)

    b = add_lsh_bucket(
        embeddings.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        ),
        "_v",
        num_planes,
    )
    keys = ["lsh_bucket"]
    # persist: both self-join sides + the hot path
    b = _bucket_stats(b, keys, payload="_v").persist()
    verified = _verify_then_dedup(
        _candidates(b, keys, max_bucket_size, payload="_v"),
        "cosine",
        score("_va", "_vb"),
        F.col("cosine") >= F.lit(cosine_threshold),
    )
    return _finalize_pairs(verified, [b], materialize)


def _gram_hits(
    corpus_toks: DataFrame,
    eval_subset: DataFrame,
    k: int,
    id_col: str,
    eval_text_col: str,
    broadcast_eval: bool,
) -> DataFrame:
    """(id, shared-k-gram count) of corpus docs against one eval
    subset, both sides shingled at k. ``corpus_toks`` is the
    PRE-TOKENIZED narrow corpus frame (id_col, _ctoks) — tokenizing
    happens once in the caller, so a multi-length pass never re-runs
    the regex tokenizer over corpus text (VERDICT r10 #5)."""
    from polaroam_spark.functions.text import fast_hash64

    corpus_grams = corpus_toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col("_ctoks"), k, assume_no_nulls=True))
        ).alias("_gram"),
    ).select(id_col, fast_hash64("_gram").alias("_gh"))
    eval_grams = (
        eval_subset.select(
            F.explode(
                F.array_distinct(word_shingles(tokens(eval_text_col), k, assume_no_nulls=True))
            ).alias("_gram")
        )
        .select(fast_hash64("_gram").alias("_gh"))
        .distinct()
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    return (
        corpus_grams.join(eval_grams, on="_gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )


def ngram_overlap_counts(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    broadcast_eval: bool = True,
    match_short_eval: bool = True,
) -> DataFrame:
    """Per-document count of distinct word n-grams shared with ANY
    eval document — the detection side of benchmark decontamination
    (the n-gram-overlap rule published LLM training pipelines use to
    keep eval benchmarks out of the training corpus).

    Plan shape (100 TB lens): both sides reduce to DISTINCT 64-bit
    n-gram hashes before anything joins, so no shuffle carries text.
    Eval benchmarks are small (1e3-1e6 docs), so their distinct
    gram-hash set broadcasts and the exploded corpus grams join
    map-side with no shuffle; the per-doc overlap count is then a
    map-side-combined groupBy on the doc id. Set
    ``broadcast_eval=False`` to fall back to a hash-partitioned
    equi-join when the eval side is genuinely large.

    Eval items SHORTER than n tokens (short QA answers are common in
    benchmarks) cannot match any n-gram, so with
    ``match_short_eval=True`` each distinct short eval length L gets
    its own pass: corpus L-grams against the length-L eval items'
    whole text. The distinct short lengths are read driver-side — a
    bounded (< n rows) scalar action. Corpus TEXT is scanned and
    tokenized exactly ONCE regardless (VERDICT r10 #5): the token
    arrays land in a persisted narrow (id, tokens) frame and each
    length pass is an array-shingle + explode over it — the extra
    cost per short length is the gram explode, never a repeat of the
    corpus scan or the regex tokenizer. Set
    ``match_short_eval=False`` to skip exact short-item matching
    (the persist is then skipped too — a single pass streams).

    Returns ``id_col, n_overlap`` for docs with >= 1 shared gram
    (counts sum across gram lengths).
    """
    eval_len = F.array_size(tokens(eval_text_col))
    base_eval = eval_df.filter(eval_len >= F.lit(n))
    c_toks = corpus.select(
        F.col(id_col), tokens(text_col).alias("_ctoks")
    )
    short_lens: list = []
    if match_short_eval:
        short_lens = [
            r[0]
            for r in eval_df.select(eval_len.alias("_L"))
            .filter((F.col("_L") > 0) & (F.col("_L") < n))
            .distinct()
            .collect()  # bounded: at most n-1 rows
        ]
    if short_lens:
        # > 1 corpus pass ahead: materialize the token arrays once
        # (spills to disk past memory; left cached for the caller's
        # action — an explicit unpersist here would run before the
        # lazy result ever executes). Registered with the session
        # cache registry: polaroam_spark.unpersist_caches() releases
        # it once the caller's terminal action has run (r11 ADVICE:
        # long-lived sessions otherwise accumulate caches and rely
        # purely on LRU eviction)
        from pyspark import StorageLevel

        from ..cache import track

        c_toks = track(c_toks.persist(StorageLevel.MEMORY_AND_DISK))
    hits = [
        _gram_hits(
            c_toks, base_eval, n, id_col, eval_text_col,
            broadcast_eval,
        )
    ]
    for length in sorted(short_lens):
        hits.append(
            _gram_hits(
                c_toks,
                eval_df.filter(eval_len == F.lit(length)),
                length,
                id_col,
                eval_text_col,
                broadcast_eval,
            )
        )
    if len(hits) == 1:
        return hits[0]
    unioned = hits[0]
    for h in hits[1:]:
        unioned = unioned.unionByName(h)
    return unioned.groupBy(id_col).agg(
        F.sum("n_overlap").cast("long").alias("n_overlap")
    )


def eval_contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    corpus_id: str = "doc_id",
    eval_id: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    broadcast_eval: bool = True,
    match_short_eval: bool = True,
) -> DataFrame:
    """The EVAL-side contamination artifact — per benchmark item, how
    leaked is it: ``n_corpus_docs`` (distinct corpus documents
    sharing ≥ 1 word n-gram with this item) and ``n_shared_grams``
    (how many of the item's distinct grams appear anywhere in the
    corpus). :func:`ngram_overlap_counts` answers the corpus-side
    question (which documents to drop); this answers the one papers
    REPORT (which eval items were compromised, and how badly —
    an item matched by one boilerplate gram reads differently from
    one with fifty shared grams across a dozen documents). Every
    eval row appears in the output; clean items report zeros.

    Matching rules mirror :func:`ngram_overlap_counts`: items
    shorter than ``n`` tokens match corpus L-grams against their
    WHOLE text (one pass per distinct short length, driver-bounded
    at n−1 passes; ``match_short_eval=False`` skips them). Corpus
    TEXT is scanned and tokenized exactly ONCE regardless (VERDICT
    r10 #5): short-length passes re-shingle a persisted narrow
    (id, token-array) frame instead of re-running the regex
    tokenizer over the corpus. Plan shape: the eval side reduces to
    (item, gram-hash) pairs — benchmark-sized, broadcast by
    default — so corpus grams join map-side; only MATCHED (corpus
    doc, item, gram) triples shuffle into the per-item aggregate, a
    volume bounded by the contamination itself, not the corpus.
    """
    from polaroam_spark.functions.text import fast_hash64

    ev_len = F.array_size(tokens(eval_text_col))
    c_toks = corpus.select(
        F.col(corpus_id).alias("_cid"),
        tokens(text_col).alias("_ctoks"),
    )

    def _pairs(ev_subset: DataFrame, k: int, whole: bool) -> DataFrame:
        if whole:
            ev_g = ev_subset.select(
                F.col(eval_id).alias("_eid"),
                fast_hash64(
                    F.concat_ws(" ", tokens(eval_text_col))
                ).alias("_gh"),
            )
        else:
            ev_g = (
                ev_subset.select(
                    F.col(eval_id).alias("_eid"),
                    F.explode(
                        F.array_distinct(
                            word_shingles(tokens(eval_text_col), k, assume_no_nulls=True)
                        )
                    ).alias("_gram"),
                )
                .select("_eid", fast_hash64("_gram").alias("_gh"))
                .dropDuplicates()
            )
        c_g = c_toks.select(
            "_cid",
            F.explode(
                F.array_distinct(word_shingles(F.col("_ctoks"), k, assume_no_nulls=True))
            ).alias("_gram"),
        ).select("_cid", fast_hash64("_gram").alias("_gh"))
        e = F.broadcast(ev_g) if broadcast_eval else ev_g
        return c_g.join(e, on="_gh").select("_cid", "_eid", "_gh")

    short_lens: list = []
    if match_short_eval:
        short_lens = [
            int(r["L"])
            for r in eval_df.select(ev_len.alias("L"))
            .filter((F.col("L") > 0) & (F.col("L") < n))
            .distinct()
            .collect()  # bounded: < n distinct lengths
        ]
    if short_lens:
        # > 1 corpus pass ahead: materialize token arrays once (see
        # ngram_overlap_counts for the persist + registry rationale;
        # polaroam_spark.unpersist_caches() releases it)
        from pyspark import StorageLevel

        from ..cache import track

        c_toks = track(c_toks.persist(StorageLevel.MEMORY_AND_DISK))
    parts = [_pairs(eval_df.filter(ev_len >= F.lit(n)), n, False)]
    for L in sorted(short_lens):
        parts.append(
            _pairs(eval_df.filter(ev_len == F.lit(L)), L, True)
        )
    from functools import reduce as _reduce

    allp = _reduce(lambda a, b: a.unionByName(b), parts)
    agg = allp.groupBy("_eid").agg(
        F.countDistinct("_cid").cast("long").alias("n_corpus_docs"),
        F.countDistinct("_gh").cast("long").alias("n_shared_grams"),
    )
    return (
        eval_df.select(F.col(eval_id))
        .dropDuplicates()
        # agg is bounded by the benchmark size (one row per matched
        # eval item) — broadcast it so the report never sort-merges
        .join(
            F.broadcast(agg),
            on=F.col(eval_id) == F.col("_eid"),
            how="left",
        )
        .select(
            eval_id,
            F.coalesce("n_corpus_docs", F.lit(0)).alias("n_corpus_docs"),
            F.coalesce("n_shared_grams", F.lit(0)).alias(
                "n_shared_grams"
            ),
        )
    )


def memorization_scan(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 50,
    corpus_id: str = "doc_id",
    probe_id: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
    max_match_docs: int = 20,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Verbatim-memorization scan — the PUBLICATION-side twin of
    :func:`decontaminate` (Lee et al. 2021 / Carlini et al. 2022:
    a model output "memorized" its training data when it reproduces
    a ≥ 50-token verbatim span): for each probe (a generated sample
    or eval completion), count the probe's distinct word ``n``-grams
    that occur verbatim anywhere in the corpus and report WHICH
    corpus documents they came from. Per probe:

    - ``n_probe_tokens`` / ``n_probe_grams`` — size and distinct
      ``n``-gram count of the probe;
    - ``too_short`` — probe has < ``n`` tokens, so a verbatim
      ``n``-token overlap is impossible BY DEFINITION (not evidence
      of cleanliness); such probes report zeros;
    - ``n_memorized_grams`` / ``n_corpus_docs`` — distinct probe
      grams found in the corpus, distinct corpus docs containing at
      least one;
    - ``matched_doc_ids`` — up to ``max_match_docs`` matching corpus
      ids, ascending (smallest ids — deterministic; the CAP is the
      boilerplate guard: a probe reproducing a licence header
      matches half the corpus, and an uncapped collect would buffer
      it), with ``n_corpus_docs`` carrying the uncapped truth;
    - ``memorized`` — ``n_memorized_grams > 0``.

    Every probe row appears in the output; clean probes report
    zeros and an empty id list. Probe ids are assumed unique (they
    identify generations); a NULL probe id raises loudly — it would
    otherwise fall out of the join-back and report a memorized
    probe as clean. Corpus rows with a NULL id are excluded (they
    cannot be cited, and would consume a cap slot without
    appearing in the list). Plan shape mirrors
    :func:`eval_contamination_report`'s inverted index: the probe
    side reduces to (probe, 8-byte gram hash) pairs —
    generation-set-sized, broadcast by default — so corpus grams
    join map-side off one corpus scan and only MATCHED (corpus doc,
    probe, gram) triples shuffle, a volume bounded by the
    memorization itself, not the corpus. Reference for the gram
    machinery: dedup.py:ngram_overlap_counts (d7/d14 gates).
    """
    from polaroam_spark.functions.text import fast_hash64

    nn = int(n)
    if nn < 2:
        raise ValueError(f"n must be >= 2 (got {n})")
    if int(max_match_docs) < 1:
        raise ValueError(
            f"max_match_docs must be >= 1 (got {max_match_docs})"
        )
    # probe ids key every join and group below; a NULL id would
    # fall out of the equality join-back and report a MEMORIZED
    # probe as clean (and groupBy would merge all NULL-id probes
    # into one phantom row) — broken manifest, fail loudly.
    # Bounded limit(1) probe, the blocklist-guard cost class.
    if probes.filter(F.col(probe_id).isNull()).limit(1).count():
        raise ValueError(
            f"memorization_scan: NULL {probe_id} in probes — ids "
            "identify generations; a NULL id would silently "
            "report its probe as clean"
        )
    # word_shingles emits a SHORTER-than-k whole-text shingle for
    # sub-k inputs (the decontaminate whole-text-match rule); a
    # verbatim-N definition must not — gate both sides on >= n
    # tokens so every gram is exactly n tokens long
    p_base = probes.select(
        F.col(probe_id).alias("_pid"),
        # NULL probe text behaves as the empty probe (0 tokens,
        # too_short, zeros) — not a NULL-riddled row
        F.coalesce(
            tokens(probe_text_col),
            F.array().cast("array<string>"),
        ).alias("_ptoks"),
    ).withColumn(
        "_pgrams",
        F.when(
            F.size("_ptoks") >= nn,
            F.array_distinct(
                word_shingles(
                    F.col("_ptoks"), nn, assume_no_nulls=True
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    p_g = p_base.select(
        "_pid", F.explode("_pgrams").alias("_gram")
    ).select("_pid", fast_hash64("_gram").alias("_gh"))
    if broadcast_probes:
        p_g = F.broadcast(p_g)
    # NULL corpus ids are excluded up front: they cannot be cited
    # in matched_doc_ids (collect_list drops NULL) yet would rank
    # FIRST in the cap window and crowd a real id out of the list.
    # fan_out (r19 optimization round, guide §2.5 single-split
    # input): the whole corpus-side chain below — tokenize, per-
    # position n-token shingle concat, hash, broadcast probe join —
    # is map-side, so on a single-split input it ran serially in one
    # task (measured 1.76 -> 1.09 s interleaved A/B at sf0.1).
    # Scale-adaptive: a no-op once the corpus arrives in >= cores
    # splits; the 2-column projection keeps everything else out of
    # the exchange (guide §2.3). Per-probe outputs are aggregates
    # over an unordered match set — partition layout can't change
    # them (d16 gate re-proved hash-exact).
    from ..session import fan_out

    c_toks = fan_out(
        corpus.select(
            F.col(corpus_id).alias("_cid"),
            F.col(text_col).alias("_ctext"),
        )
    ).select(
        "_cid", tokens(F.col("_ctext")).alias("_ctoks")
    ).filter(
        F.col("_cid").isNotNull() & (F.size("_ctoks") >= nn)
    )
    c_g = c_toks.select(
        "_cid",
        F.explode(
            F.array_distinct(
                word_shingles(
                    F.col("_ctoks"), nn, assume_no_nulls=True
                )
            )
        ).alias("_gram"),
    ).select("_cid", fast_hash64("_gram").alias("_gh"))
    matched = c_g.join(p_g, on="_gh").select("_cid", "_pid", "_gh")
    # ALL per-probe outputs from ONE pass over `matched` (r19
    # optimization round): the old shape ran two independent
    # aggregations (countDistinct stats + the cap window), each
    # re-deriving `matched` — i.e. the corpus gram scan+explode+join,
    # the single corpus-scaled subtree, executed TWICE per action.
    # `matched` is distinct (cid, pid, gh) triples by construction
    # (both gram sides are array_distinct per document), so:
    #   - countDistinct(gh)  == max dense_rank over gh within pid
    #   - countDistinct(cid) == max dense_rank over cid within pid
    #   - the capped id list == the cids whose dense_rank <= cap —
    #     a collect_set BOUNDED by max_match_docs, never the
    #     boilerplate-probe corpus-sized buffer the cap exists to
    #     prevent.
    # One exchange on _pid, two in-partition sorts, and the groupBy
    # reuses the window partitioning — no second corpus pass, no
    # persist. Guide §2.4.
    w_gh = Window.partitionBy("_pid").orderBy("_gh")
    w_cid = Window.partitionBy("_pid").orderBy("_cid")
    stats = (
        matched.withColumns(
            {
                "_rg": F.dense_rank().over(w_gh),
                "_rc": F.dense_rank().over(w_cid),
            }
        )
        .groupBy("_pid")
        .agg(
            F.max("_rg").cast("long").alias("n_memorized_grams"),
            F.max("_rc").cast("long").alias("n_corpus_docs"),
            F.sort_array(
                F.collect_set(
                    F.when(
                        F.col("_rc") <= int(max_match_docs),
                        F.col("_cid"),
                    )
                )
            ).alias("matched_doc_ids"),
        )
    )
    id_type = stats.schema["matched_doc_ids"].dataType.simpleString()
    out = (
        p_base.select(
            "_pid",
            F.size("_ptoks").cast("long").alias("n_probe_tokens"),
            F.size("_pgrams").cast("long").alias("n_probe_grams"),
            (F.size("_ptoks") < nn).alias("too_short"),
        )
        # the agg table is bounded by the probe set, not the corpus —
        # broadcast it so the report never sort-merges
        .join(F.broadcast(stats), on="_pid", how="left")
    )
    return out.select(
        F.col("_pid").alias(probe_id),
        "n_probe_tokens",
        "n_probe_grams",
        "too_short",
        F.coalesce("n_memorized_grams", F.lit(0)).alias(
            "n_memorized_grams"
        ),
        F.coalesce("n_corpus_docs", F.lit(0)).alias("n_corpus_docs"),
        F.coalesce(
            "matched_doc_ids", F.expr(f"CAST(array() AS {id_type})")
        ).alias("matched_doc_ids"),
        (F.coalesce("n_memorized_grams", F.lit(0)) > 0).alias(
            "memorized"
        ),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    broadcast_eval: bool = True,
    match_short_eval: bool = True,
) -> DataFrame:
    """Drop corpus documents sharing >= ``min_overlap`` distinct word
    n-grams with the eval set (eval items shorter than n match by
    their exact text — see :func:`ngram_overlap_counts`). Returns
    surviving corpus rows unchanged (left_anti on the id — corpus
    bodies scan once and never shuffle)."""
    contaminated = (
        ngram_overlap_counts(
            corpus,
            eval_df,
            n=n,
            id_col=id_col,
            text_col=text_col,
            eval_text_col=eval_text_col,
            broadcast_eval=broadcast_eval,
            match_short_eval=match_short_eval,
        )
        .filter(F.col("n_overlap") >= F.lit(min_overlap))
        .select(id_col)
    )
    return corpus.join(contaminated, on=id_col, how="left_anti")


def dedup_lines(
    docs: DataFrame,
    min_doc_freq: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """Cross-document line deduplication — the boilerplate-removal
    step of published web-corpus pipelines: drop every line whose
    trimmed form appears in >= ``min_doc_freq`` DISTINCT documents
    (headers, footers, nav chrome), then rebuild each document from
    its surviving lines in original order.

    Plan shape (100 TB lens): the doc-frequency pass shuffles only
    (doc_id, 8-byte line hash) pairs; the resulting boilerplate set
    is tiny (lines repeated across documents) and broadcasts, so the
    line filter is map-side. The single shuffle that carries text is
    the per-doc reassembly groupBy — the same cost class as writing
    the output. Set ``broadcast_boilerplate=False`` for a
    hash-partitioned anti-join when the boilerplate set is genuinely
    large (pathological corpora).

    Returns one row per input doc: ``id_col``, rebuilt ``text_col``
    (empty string when every line was boilerplate), and
    ``n_lines_removed``. A NULL ``text_col`` is treated as the empty
    document (rebuilt as ``''`` with 0 lines removed) rather than
    silently yielding a NULL line count — split(NULL) is NULL and
    would otherwise drop the doc from the explode and NULL the count.
    """
    from polaroam_spark.functions.text import fast_hash64

    docs = docs.withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "_pos", "_line"
        ),
    )
    norm = F.trim(F.col("_line"))
    hashed = lines.withColumn("_lh", fast_hash64(norm))
    boiler = (
        hashed.filter(norm != "")
        .select(id_col, "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= F.lit(min_doc_freq))
        .select("_lh")
    )
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    kept = hashed.join(boiler, on="_lh", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("_new_text"),
        F.count("*").alias("_n_kept"),
    )
    n_orig = F.size(F.split(F.col(text_col), "\n"))
    return (
        docs.join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_new_text"), F.lit("")).alias(text_col),
            (n_orig - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def build_minhash_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Signature index of an accepted corpus for INCREMENTAL dedup:
    one row per document with its distinct shingle set and MinHash
    signature. Built once per corpus and persisted (e.g. via
    ``sources.io.write_bucketed_table`` keyed on ``id_col``); each
    ingest batch then dedups against the index without recomputing
    signatures for — or re-pairing — the accepted corpus. The shingle
    arrays are stored because LSH candidates are verified with exact
    Jaccard; storage is proportional to corpus token count, the same
    class as the corpus itself.

    INDEX VERSION CONTRACT: signature and shingle values are a
    function of ``shingle_k``, ``num_hashes``, ``portable``, AND the
    shingle representation (``portable=False`` stores xxhash64-folded
    long shingles — the fast path shared with
    :func:`minhash_lsh_pairs`; ``portable=True`` stores string
    shingles so a SQL oracle can reproduce them). A persisted index is
    silently incompatible with batches signed under ANY different
    setting — same-bucket candidates would fail exact-Jaccard verify
    and duplicates would pass through undetected. Rebuild the index
    whenever these settings change; batch signatures always agree with
    a same-setting index because ``_batch_signatures`` is this very
    function. Indexes persisted before the folded-shingle change
    (round 4) are string-shingle and must be rebuilt to use
    ``portable=False`` here.

    The contract is ENFORCED, not just documented: the index carries
    a ``_sig_fmt`` marker column and the incremental readers raise
    ``ValueError`` on a missing or mismatched marker instead of
    silently generating zero candidates against an incompatible
    index (the failure mode is otherwise invisible — duplicates just
    pass through as novel).
    """
    return (
        docs.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_toks")
        )
        .select(
            F.col(id_col),
            _shingle_set(
                text_col, shingle_k, portable, toks=F.col("_toks")
            ).alias("shingles"),
        )
        .withColumn(
            "sig",
            minhash_signature("shingles", num_hashes, portable=portable),
        )
        .withColumn(
            "_sig_fmt",
            F.lit(_index_format(shingle_k, num_hashes, portable)),
        )
    )


def _index_format(shingle_k: int, num_hashes: int, portable: bool) -> str:
    return (
        f"mh1:{'str' if portable else 'xx64'}:k{shingle_k}:h{num_hashes}"
    )


def check_index_format(
    index: DataFrame,
    shingle_k: int = 3,
    num_hashes: int = 16,
    portable: bool = False,
) -> None:
    """Raise ``ValueError`` unless ``index`` was built by
    :func:`build_minhash_index` under exactly these settings. A
    bounded one-row read; call it once per index load (the
    incremental entry points do this for you)."""
    expected = _index_format(shingle_k, num_hashes, portable)
    if "_sig_fmt" not in index.columns:
        raise ValueError(
            "minhash index has no _sig_fmt marker — it predates the "
            "format-marker contract (or is not a build_minhash_index "
            f"output). Rebuild it; expected format {expected!r}."
        )
    row = index.select("_sig_fmt").first()  # bounded: one row
    if row is not None and row[0] != expected:
        raise ValueError(
            f"minhash index format {row[0]!r} does not match the "
            f"requested settings {expected!r} — candidates would "
            "silently never collide. Rebuild the index or pass the "
            "settings it was built with."
        )


def check_bands_format(index_bands: DataFrame, bands: int) -> None:
    """Raise ``ValueError`` unless a persisted band table was built by
    :func:`expand_index_bands` with this ``bands`` — band keys encode
    both the slice width and the bucket seed, so a mismatch silently
    yields zero corpus candidates (duplicates ingested as novel).
    Bounded one-row read, called once per supplied band table."""
    expected = f"bands{int(bands)}"
    if "_bands_fmt" not in index_bands.columns:
        raise ValueError(
            "band table has no _bands_fmt marker — it predates the "
            "format-marker contract (or is not an expand_index_bands "
            f"output). Rebuild it; expected {expected!r}."
        )
    row = index_bands.select("_bands_fmt").first()
    if row is not None and row[0] != expected:
        raise ValueError(
            f"band table format {row[0]!r} does not match bands="
            f"{int(bands)} ({expected!r}) — the (band, bucket) join "
            "would silently never match. Rebuild the band table or "
            "pass the bands it was built with."
        )


def expand_index_bands(
    index: DataFrame,
    bands: int = 4,
    max_bucket_size: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exploded, hot-guarded LSH band keys of a corpus index: one row
    per (corpus doc, band) with hot buckets (cross-corpus boilerplate
    piles larger than ``max_bucket_size``) collapsed to their min-id
    representative, bounding per-bucket fan-out exactly like
    :func:`minhash_lsh_pairs`'s star guard.

    This table is a pure function of the static index — compute it
    ONCE per index refresh and persist it (it is three narrow
    columns); a long-running ingest stream that rebuilt it per
    micro-batch would pay an O(corpus) window shuffle on every
    trigger for data that never changes between refreshes.
    """
    sigs = index.select(F.col(id_col).alias("_id"), F.col("sig").alias("_sig"))
    return (
        _hot_guard(
            _bucket_stats(_band_keys(sigs, bands), _BAND_KEYS),
            max_bucket_size,
        )
        .select(F.col("_id").alias("_cid"), *_BAND_KEYS)
        # bands marker: band keys are a function of `bands` (slice
        # width AND bucket seed), so a persisted table probed under a
        # different bands silently never collides — the readers check
        # this column like the index's _sig_fmt
        .withColumn("_bands_fmt", F.lit(f"bands{int(bands)}"))
    )


def _incremental_pairs_from_sigs(
    new_sh: DataFrame,
    index: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    bands: int,
    jaccard_threshold: float,
    max_bucket_size: int,
    include_batch_pairs: bool,
) -> DataFrame:
    """Pair generation given prepared signatures: ``new_sh`` is a
    :func:`_batch_signatures` frame (``_id, _shingles, _sig``) — the
    caller owns its persistence (it is consumed by the band explode,
    both verification joins, and the batch self-join)."""
    banded = _bucket_stats(_band_keys(new_sh, bands), _BAND_KEYS)
    # batch-side hot-bucket guard for the CORPUS join: a degenerate
    # batch bucket (100k boilerplate docs in one (band, bucket))
    # would otherwise fan out batch_rows x index_bucket_rows
    # candidates from a single join task. Same bounded-miss tradeoff
    # as expand_index_bands on the index side: only the min-id batch
    # doc in a hot bucket probes the corpus through that bucket (its
    # bucket-mates still reach the corpus through their other,
    # non-hot bands, and still pair with the representative via the
    # batch self-join below).
    cand = (
        _hot_guard(banded, max_bucket_size)
        .join(index_bands, on=_BAND_KEYS)
        .select(F.col("_id").alias("id_a"), F.col("_cid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    index_sh = index.select(
        F.col(id_col).alias("_id"), F.col("shingles").alias("_shingles")
    )
    corpus_pairs = _jaccard_verify(
        cand, new_sh, index_sh, jaccard_threshold
    ).select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_match"),
        "jaccard_sim",
        F.lit("corpus").alias("match_side"),
    )
    if not include_batch_pairs:
        return corpus_pairs
    # batch-internal pairs from the SAME signature frame — the batch
    # is never re-shingled or re-signed
    batch_pairs = _minhash_self_pairs(
        new_sh, banded, jaccard_threshold, max_bucket_size
    ).select(
        F.col("id_b").alias("id_new"),
        F.col("id_a").alias("id_match"),
        "jaccard_sim",
        F.lit("batch").alias("match_side"),
    )
    return corpus_pairs.unionByName(batch_pairs)


def _batch_signatures(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    num_hashes: int,
    portable: bool,
) -> DataFrame:
    return build_minhash_index(
        new_docs, text_col, id_col, shingle_k, num_hashes, portable
    ).select(
        F.col(id_col).alias("_id"),
        F.col("shingles").alias("_shingles"),
        F.col("sig").alias("_sig"),
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 1000,
    portable: bool = False,
    include_batch_pairs: bool = True,
    index_bands: DataFrame | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs of an ingest batch against an existing
    corpus index (``build_minhash_index`` with the SAME shingle_k /
    num_hashes / portable settings), plus batch-internal pairs.

    The production ingestion pattern at corpus scale: signatures are
    computed for the NEW batch only — once, shared by the corpus join
    and the batch self-join — and candidate generation is a band
    equi-join of the batch's band keys against the index's; the
    accepted corpus is never re-shingled. Pass a persisted
    ``index_bands`` (:func:`expand_index_bands`) when calling
    repeatedly against the same index — e.g. from
    ``streaming_dedup_incremental`` — so the corpus-side band
    explode + hot-bucket window run once per index refresh instead of
    once per call.

    Output: ``id_new, id_match, jaccard_sim, match_side`` where
    match_side is ``'corpus'`` or ``'batch'`` (batch pairs report the
    smaller id as id_match). Feed ``id_new`` of any row to an
    anti-join to keep only novel documents.

    The batch signature frame is persisted (consumed by four plan
    branches). Pass ``materialize=True`` to compute the result
    eagerly and unpersist the batch cache before returning — the
    contract for a long-running per-batch ingest loop (the streaming
    wrapper does this every micro-batch; a manual ``dedup_incremental``
    loop should pass it too or executor storage accumulates one batch
    signature frame per call).
    """
    check_index_format(index, shingle_k, num_hashes, portable)
    new_sh = _batch_signatures(
        new_docs, text_col, id_col, shingle_k, num_hashes, portable
    ).persist()
    if index_bands is None:
        index_bands = expand_index_bands(
            index, bands, max_bucket_size, id_col
        )
    else:
        check_bands_format(index_bands, bands)
    pairs = _incremental_pairs_from_sigs(
        new_sh,
        index,
        index_bands,
        id_col,
        bands,
        jaccard_threshold,
        max_bucket_size,
        include_batch_pairs,
    )
    return _finalize_pairs(pairs, [new_sh], materialize)


def dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Survivors of an ingest batch against an existing corpus index:
    drop batch docs near-duplicating the corpus or an earlier
    (smaller-id) batch doc. Returns surviving ``new_docs`` rows."""
    pairs = minhash_lsh_pairs_incremental(
        new_docs, index, id_col=id_col, **kwargs
    )
    return _greedy_survivors(new_docs, pairs, id_col, loser="id_new")


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    right_text_col: str | None = None,
    right_id_col: str | None = None,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 1000,
    portable: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Two-table near-duplicate TEXT join — entity resolution across
    datasets (vendor records vs master list, scrape vs curated
    corpus): ``[left_id, right_id, jaccard_sim]`` for every cross
    pair with verified shingle-Jaccard ≥ the threshold among the
    banded-LSH candidates.

    A thin composition of the incremental machinery: the right table
    becomes a one-off :func:`build_minhash_index` and the left table
    plays the ingest batch (``include_batch_pairs=False`` — no
    left-internal pairs), so candidate generation is the same
    bucketed band equi-join as every other dedup path — never an
    all-pairs product — with the same hot-bucket guard. For repeated
    joins against the same right table, build the index once with
    :func:`build_minhash_index` + :func:`expand_index_bands` and call
    :func:`minhash_lsh_pairs_incremental` directly.
    """
    rt = right_text_col or text_col
    rid = right_id_col or id_col
    index = build_minhash_index(
        right.select(
            F.col(rid).alias(id_col), F.col(rt).alias(text_col)
        ),
        text_col,
        id_col,
        shingle_k,
        num_hashes,
        portable,
    )
    pairs = minhash_lsh_pairs_incremental(
        left,
        index,
        text_col,
        id_col,
        shingle_k,
        num_hashes,
        bands,
        jaccard_threshold,
        max_bucket_size,
        portable,
        include_batch_pairs=False,
        materialize=materialize,
    )
    return pairs.select(
        F.col("id_new").alias("left_id"),
        F.col("id_match").alias("right_id"),
        "jaccard_sim",
    )


def semantic_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    threshold: float = 0.95,
    kmeans_iterations: int = 0,
    scorer: str = "native",
    index: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then compare
    pairs ONLY within a cluster by exact cosine — two documents that
    say the same thing in different words land in the same cluster
    and score above ``threshold`` even though no n-gram overlaps.
    Returns ``[id_a, id_b, cosine, centroid_id]`` with
    ``id_a < id_b``.

    Clustering reuses :func:`~polaroam_spark.operators.similarity.
    build_ivf_index` (deterministic hash-rank seeds + optional Lloyd
    rounds), so a prebuilt ``index=(centroids, assignment)`` from an
    ANN deployment is shared for free. Vectors assigned to the same
    ``centroid_id`` form a candidate block; the self-equi-join on
    ``centroid_id`` plus exact cosine verification is the same
    bucket-join shape as every other pair generator in this module
    — never all-pairs across the corpus.

    Scale contract: within-cluster candidates are O(Σ c_k²); size
    ``num_clusters`` so the mean cluster (n / k) stays ~10⁴ vectors
    (the SemDeDup paper runs k = 11k on 134M embeddings). A vector
    in exactly one cluster means boundary pairs split across two
    clusters are missed — the paper's (and this function's) accepted
    recall trade; raise ``kmeans_iterations`` to tighten clusters
    rather than probing multiple.
    """
    from polaroam_spark.operators.similarity import build_ivf_index
    from polaroam_spark.functions.vectors import make_scorer

    if index is None:
        index = build_ivf_index(
            embeddings, id_col, vec_col, num_clusters,
            kmeans_iterations, scorer,
        )
    _, assignment = index
    score = make_scorer(scorer)
    d = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("_dvec")
    ).join(assignment, on=id_col)
    cand = (
        d.alias("a")
        .join(d.alias("b"), on="centroid_id")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    return (
        cand.withColumn("cosine", score("a._dvec", "b._dvec"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine",
            "centroid_id",
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    threshold: float = 0.95,
    kmeans_iterations: int = 0,
    scorer: str = "native",
    index: "tuple[DataFrame, DataFrame] | None" = None,
    transitive: bool = True,
    keep: str = "min_id",
) -> DataFrame:
    """End-to-end semantic deduplication: :func:`semantic_pairs` →
    transitive closure → survivors, mirroring
    :func:`near_dedup_corpus` for the embedding modality (including
    its ``keep`` quality-column survivor rule). Keeps the
    smallest id per semantic-duplicate cluster (a deterministic
    divergence from the SemDeDup paper, which keeps the vector
    FARTHEST from its centroid; min-id makes the output
    engine-reproducible and oracle-checkable). ``transitive=False``
    applies the greedy drop-any-doc-with-a-smaller-id-duplicate rule
    without the closure iteration."""
    pairs = semantic_pairs(
        embeddings, id_col, vec_col, num_clusters, threshold,
        kmeans_iterations, scorer, index,
    )
    return _survivors(embeddings, pairs, id_col, transitive, keep=keep)


def dedup_cluster_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = True,
) -> DataFrame:
    """Duplicate-cluster size histogram — the data card every dedup
    decision starts from (and every dedup paper reports): one row
    per cluster size, ``[cluster_size, n_clusters, n_docs]``. Read
    it as: ``cluster_size=1`` rows are unique documents;
    ``sum(n_docs) - sum(n_clusters)`` is exactly how many rows
    :func:`dedup_exact` would remove; a heavy tail at large sizes
    says boilerplate/mirrors dominate and near-dedup thresholds
    should be tuned on those clusters first.

    Same keying rule as :func:`dedup_exact` (md5 of the optionally
    normalized text — the shuffle carries 32-byte hashes, never
    bodies; NULL texts excluded: null means unknown, not identical).
    Two map-side-combined aggregations — the first's output is one
    row per DISTINCT text, the second's one row per distinct
    cluster SIZE. No driver-side state anywhere.
    """
    key = (
        normalize_text(text_col) if normalized else F.col(text_col)
    )
    sizes = (
        docs.withColumn("_key", F.md5(key))
        .filter(F.col("_key").isNotNull())
        .groupBy("_key")
        .agg(F.count("*").alias("_sz"))
    )
    return (
        sizes.groupBy("_sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("_sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long"),
            (F.col("_sz") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )
