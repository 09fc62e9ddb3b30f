"""The hashed-gram linear-model core shared by the quality classifier
and langid (operators/quality.py): the scorer's one map-only Arrow
stage at any model size, collision-safe temp columns, the trainers'
cache release and their job count."""
import uuid

import pytest
from pyspark.sql import functions as F

from polaroam_spark.operators.langid import score_langid, train_langid
from polaroam_spark.operators.quality import (
    score_quality_classifier,
    train_quality_classifier,
)

TEXTS = [
    "good clean prose about science",
    "spam buy now click here",
    "der hund und die katze",
    "",
    None,
]


def _quality_model(b):
    return {
        "weights": [((i * 37) % 11 - 5) / 8.0 for i in range(b)],
        "bias": 0.25,
        "num_buckets": b,
    }


def _langid_model(k, b):
    return {
        "classes": [f"c{i}" for i in range(k)],
        "weights": [
            [((i * (ki + 3)) % 7 - 3) / 4.0 for i in range(b)]
            for ki in range(k)
        ],
        "num_buckets": b,
    }


SCORERS = {
    "quality": lambda df: score_quality_classifier(df, _quality_model(70_000)),
    "langid": lambda df: score_langid(df, _langid_model(2, 40_000)),
}


@pytest.mark.parametrize("name", sorted(SCORERS))
def test_scorer_is_one_arrow_stage_at_any_size(spark, name):
    """Models with more than 65 536 weights (K·B) score in one
    map-only Arrow stage: no exchange, no join, and duplicate ids keep
    one output row per input row."""
    rows = [(i % 3, t) for i, t in enumerate(TEXTS * 2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = SCORERS[name](df)
    got = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan and "Join" not in plan
    assert len(got) == len(rows)
    assert sorted((r.doc_id, r.text or "") for r in got) == sorted(
        (i, t or "") for i, t in rows
    )


@pytest.mark.parametrize("name", sorted(SCORERS))
def test_scorer_keeps_input_columns_named_like_its_temps(spark, name):
    temps = ["_qsc", "_margins", "_hgb_base", "_hgb_buckets"]
    df = spark.createDataFrame(
        [(i, t, *range(4)) for i, t in enumerate(TEXTS)],
        "doc_id long, text string, "
        + ", ".join(f"{c} int" for c in temps),
    )
    out = SCORERS[name](df)
    assert out.columns[: len(df.columns)] == df.columns
    for r in out.collect():
        assert [r[c] for c in temps] == [0, 1, 2, 3]


def _labeled(spark):
    rows = [
        (
            i,
            ("good clean prose %d" if i % 2 else "spam buy now %d")
            % (i % 7),
            i % 2,
            ["en", "de", "fr"][i % 3],
        )
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, label int, language string"
    )


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_trainers_release_their_cache(spark):
    df = _labeled(spark)
    before = _persisted(spark)
    train_quality_classifier(df, n_iter=1, num_buckets=64)
    train_langid(df, n_iter=1, num_buckets=64)
    assert _persisted(spark) == before
    with pytest.raises(ValueError, match="no usable rows"):
        train_quality_classifier(
            df.withColumn("label", F.lit(None).cast("int")), n_iter=1
        )
    with pytest.raises(ValueError, match="labels must be 0/1"):
        train_quality_classifier(df.withColumn("label", F.lit(2)))
    with pytest.raises(ValueError, match="no usable rows"):
        train_langid(df.withColumn("text", F.lit("")), n_iter=1)
    assert _persisted(spark) == before


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"linear-model-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_trainer_job_counts(spark):
    """One aggregate before the descent (total, usable, bad label),
    then one job per iteration; langid adds its class collect."""
    df = _labeled(spark).cache()
    df.count()
    try:
        assert _jobs(
            spark, lambda: train_quality_classifier(df, n_iter=2)
        ) == JOBS["quality"]
        assert _jobs(
            spark, lambda: train_langid(df, n_iter=2)
        ) == JOBS["langid"]
    finally:
        df.unpersist()


JOBS = {"quality": 5, "langid": 7}
