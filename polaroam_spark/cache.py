"""Session-lifetime cache registry (r11 ADVICE: persisted operator
intermediates had no release path).

Several operators persist intermediate frames that the RETURNED LAZY
frame still references — e.g. the decontamination token arrays
(dedup.py ``_corpus_tokens``: reused by one corpus pass per distinct
short eval length) or DSIR's two B-row count tables (textstats.py: each
feeds a join AND its own scalar total). Unpersisting inside the
operator would fire before the caller's first action ever executes
the plan, so the persists must outlive the call — but a long-lived
session that invokes such operators repeatedly would otherwise
accumulate executor storage and rely purely on LRU eviction.

Those operators therefore register their caches here. When the
caller KNOWS every frame derived from them has run its terminal
action (the end of an ingest batch, a notebook cell boundary), one
call releases everything:

    import polaroam_spark
    polaroam_spark.unpersist_caches()

Calling it early is safe: an unpersisted cache recomputes from
lineage — a performance cost, never a correctness one. The registry
itself only shrinks when ``unpersist_caches()`` runs: each tracked
entry holds a DataFrame reference, so a loop that registers caches
and never releases them grows the registry (and pins the plans)
without bound — call it at batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: "list[DataFrame]" = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for bulk release."""
    _TRACKED.append(df)
    return df


def unpersist_caches(blocking: bool = False) -> int:
    """Unpersist every registered operator cache; returns how many
    frames were released. Safe at any time (early release costs a
    recompute, not correctness)."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # session already stopped: nothing to free
            pass
    _TRACKED.clear()
    return n
