"""Home / work location labeling — entirely native aggregations.

Reimplements ``HWEstimate`` (reference models.py:271-453) and its
helpers (reference utils.py:434-501) as Spark DataFrame expressions:
datetime expansion, night/weekend + workday-hour filters, per-user and
per-cluster distinct-date counts with ratio thresholds (HAVING), and a
broadcast label join with conditional update.

Deliberate, documented divergences (SURVEY.md §2i):

- ``detect_work`` defaults to ``end_working_hour=18`` — the
  reference's default of 6 makes its own filter empty
  (reference models.py:275-277 vs 428); its drivers pass 18
  (reference get_stops_and_clusters.py:121).
- the label columns carry the **cluster id** (``stop_locations``) of
  the labeled location; the reference writes the threshold float as
  the label value, which is meaningless (reference models.py:385-386 →
  utils.py:493-501) — only null/not-null is ever consumed.

Scale notes: per-cluster stats frames are tiny relative to the stop
table (one row per (uid, cluster)); the label join is an equi-join on
(uid, stop_locations) that AQE will broadcast — we force ``broadcast``
for determinism. Each detect pass shuffles once: one uid-keyed
exchange of the (uid, cluster, date) projection serves the distinct
dates, the per-uid date count and the per-cluster aggregate. The
distinct then runs after the exchange, so the pass shuffles every
stop row it keeps rather than map-side-combined triples: the shape
pays while stops per (uid, cluster, date) stay near 1 (1.14 in the
home pass and 1.00 in the work pass of the benchmark's ``mobility``
input). ``home_work_wide`` is one ``groupBy("uid")``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polaroam_spark.functions.datetimes import from_epoch, iso_weekday


def prepare_labeling(
    df: DataFrame, tz: str | None = None, convert_tz: bool = False
) -> DataFrame:
    """Datetime expansion + label-column init (reference
    models.py:306-347). Input needs ``start_timestamp`` /
    ``end_timestamp`` (epoch seconds). With ``convert_tz`` the wall
    clock shifts to ``tz`` (reference ``dt.convert_time_zone``; here
    ``from_utc_timestamp`` with the session tz pinned to UTC).
    """
    t_start = from_epoch("start_timestamp")
    t_end = from_epoch("end_timestamp")
    if convert_tz and tz:
        t_start = F.from_utc_timestamp(t_start, tz)
        t_end = F.from_utc_timestamp(t_end, tz)
    df = df.withColumns({"t_start": t_start, "t_end": t_end})
    return df.withColumns(
        {
            "year": F.year("t_start").cast("int"),
            "month": F.month("t_start").cast("int"),
            "day": F.dayofmonth("t_start").cast("int"),
            "hour": F.hour("t_start").cast("int"),
            "date": F.to_date("t_start"),
            "weekday": iso_weekday("t_start"),
            "duration": (
                F.col("end_timestamp") - F.col("start_timestamp")
            ).cast("long"),
            "location_type": F.lit("O"),
            "home_label": F.lit(-1).cast("long"),
            "work_label": F.lit(-1).cast("long"),
        }
    )


def calculate_total_days(df: DataFrame) -> DataFrame:
    """1-row frame with the inclusive day span of ``t_start``
    (reference utils.py:434-449): ``datediff(max, min) + 1``.
    Returned as a DataFrame (not a collected scalar) so it stays in
    the DAG; downstream attaches it with a broadcast cross join —
    the Spark analogue of the reference's dummy-key join.
    """
    return df.agg(
        (
            F.datediff(F.max("t_start"), F.min("t_start")) + F.lit(1)
        ).cast("long").alias("total_days")
    )


def date_counts(df: DataFrame, total_days: DataFrame | int) -> DataFrame:
    """Per-(uid, cluster) distinct-date stats + ratios (reference
    utils.py:451-469): ``date_percentage = cluster_dates/total_dates``,
    ``all_percentage = cluster_dates/time_span``.
    """
    if isinstance(total_days, int):
        df = df.withColumn("time_span", F.lit(total_days).cast("long"))
    else:
        # 1-row side: broadcast cross join (reference dummy-key join,
        # utils.py:446-454).
        df = df.crossJoin(
            F.broadcast(total_days.withColumnRenamed("total_days", "time_span"))
        )

    # One uid-keyed exchange serves all three steps: the distinct to
    # (uid, cluster, date) triples, the uid window over them and the
    # (uid, cluster) aggregate, since a uid partitioning satisfies
    # every one of their keys. Over the triples,
    #   - cluster_dates  == non-NULL-date triples per (uid, cluster)
    #   - total_dates    == max dense_rank of date within uid
    #     (date desc NULLS LAST, so NULL dates never take a rank —
    #     exactly countDistinct's NULL-skipping).
    # NULL uids are dropped, as an inner join of per-uid and
    # per-cluster counts on uid would drop them.
    triples = (
        df.filter(F.col("uid").isNotNull())
        .select("uid", "stop_locations", "date", "time_span")
        .repartition("uid")
        .groupBy("uid", "stop_locations", "date")
        .agg(F.first("time_span").alias("time_span"))
    )
    has_date = F.col("date").isNotNull()
    w_uid = Window.partitionBy("uid")
    return (
        triples.withColumn(
            "_rk",
            F.when(
                has_date,
                F.dense_rank().over(
                    w_uid.orderBy(F.col("date").desc_nulls_last())
                ),
            ),
        )
        .withColumn(
            "_td",
            F.coalesce(F.max("_rk").over(w_uid), F.lit(0)).cast(
                "long"
            ),
        )
        .groupBy("uid", "stop_locations")
        .agg(
            F.count(F.when(has_date, 1)).alias("cluster_dates"),
            F.first("_td").alias("total_dates"),
            F.first("time_span").alias("time_span"),
        )
        .withColumns(
            {
                "date_percentage": F.col("cluster_dates")
                / F.col("total_dates"),
                "all_percentage": F.col("cluster_dates") / F.col("time_span"),
            }
        )
    )


def filter_clusters(
    df: DataFrame,
    total_days: DataFrame | int | None,
    min_periods_over_window: float,
    span_period: float,
    broadcast: bool = True,
) -> DataFrame:
    """Keep rows of clusters passing both ratio thresholds (reference
    utils.py:473-491): HAVING on the stats frame + inner join back.

    ``broadcast=False`` drops the broadcast hint on the passing-stats
    frame: it is one row per qualifying (uid, cluster) — far smaller
    than the stop side, but still proportional to USER count, so at
    national scale (1e8+ users) it exceeds broadcast limits and the
    join must shuffle.
    """
    if total_days is None:
        total_days = calculate_total_days(df)
    stats = date_counts(df, total_days)
    passing = stats.filter(
        (F.col("date_percentage") >= F.lit(min_periods_over_window))
        & (F.col("all_percentage") >= F.lit(span_period))
    ).select("uid", "stop_locations", "date_percentage", "all_percentage")
    if broadcast:
        passing = F.broadcast(passing)
    return df.join(
        passing, on=["uid", "stop_locations"], how="inner"
    )


def label_locations(df: DataFrame, label_col: str) -> DataFrame:
    """One label row per qualifying (uid, stop_locations). The
    reference's sort+unique (utils.py:493-501) sorts by stats that are
    CONSTANT within each (uid, stop_locations) group — the ordering
    decides nothing, so the operation is exactly a distinct over the
    cluster keys and is implemented as one (a per-partition window
    sort here would cost a full sort to break ties that cannot
    exist). The label value is the cluster id (divergence, see module
    docstring).
    """
    return (
        df.select("uid", "stop_locations")
        .dropDuplicates()
        .select(
            "uid",
            "stop_locations",
            F.col("stop_locations").cast("long").alias(label_col),
        )
    )


def _apply_label(
    df: DataFrame,
    label_frame: DataFrame,
    label_col: str,
    type_char: str,
    broadcast: bool = True,
) -> DataFrame:
    """Left-join the label frame and conditionally update
    ``location_type`` + the label column (reference models.py:388-397).
    ``broadcast=False``: see :func:`filter_clusters` — the label frame
    scales with user count.
    """
    new_col = f"{label_col}_new"
    labels = label_frame.withColumnRenamed(label_col, new_col)
    if broadcast:
        labels = F.broadcast(labels)
    joined = df.join(
        labels,
        on=["uid", "stop_locations"],
        how="left",
    )
    hit = F.col(new_col).isNotNull()
    return (
        joined.withColumns(
            {
                "location_type": F.when(hit, F.lit(type_char)).otherwise(
                    F.col("location_type")
                ),
                label_col: F.when(hit, F.col(new_col)).otherwise(
                    F.col(label_col)
                ),
            }
        ).drop(new_col)
    )


def _passing_labels(
    tmp: DataFrame,
    total_days: DataFrame | int | None,
    min_periods_over_window: float,
    span_period: float,
    label_col: str,
) -> DataFrame:
    """One label row per qualifying (uid, stop_locations), straight
    off the stats frame (r19 optimization round): the old
    ``filter_clusters`` → ``label_locations`` chain joined the
    qualifying stats back to the member rows and then took DISTINCT
    cluster keys — but the stats frame already has exactly one row
    per cluster and every stats row has >= 1 member by construction
    (it is aggregated FROM the members), so the join-back and the
    distinct decided nothing. Dropping them removes one full pass
    over the member lineage and a distinct shuffle per detect_*
    call; ``filter_clusters`` / ``label_locations`` remain public
    for callers that want the member rows themselves."""
    if total_days is None:
        total_days = calculate_total_days(tmp)
    stats = date_counts(tmp, total_days)
    return stats.filter(
        (F.col("date_percentage") >= F.lit(min_periods_over_window))
        & (F.col("all_percentage") >= F.lit(span_period))
    ).select(
        "uid",
        "stop_locations",
        F.col("stop_locations").cast("long").alias(label_col),
    )


def detect_home(
    df: DataFrame,
    start_hour_day: int = 6,
    end_hour_day: int = 21,
    min_periods_over_window: float = 0.5,
    span_period: float = 0.5,
    total_days: DataFrame | int | None = 30,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Label home clusters: stops at night (hour ≥ end_hour_day OR
    hour ≤ start_hour_day) or on weekends, recurring over enough
    distinct dates (reference models.py:349-401).
    """
    home_tmp = df.filter(
        (
            (F.col("hour") >= F.lit(end_hour_day))
            | (F.col("hour") <= F.lit(start_hour_day))
            | F.col("weekday").between(6, 7)
        )
        & (F.col("stop_locations") != -1)
    )
    labels = _passing_labels(
        home_tmp,
        total_days,
        min_periods_over_window,
        span_period,
        "home_label",
    )
    return _apply_label(
        df, labels, "home_label", "H", broadcast=broadcast_labels
    )


def detect_work(
    df: DataFrame,
    start_working_hour: int = 8,
    end_working_hour: int = 18,
    min_periods_over_window: float = 0.5,
    span_period: float = 0.5,
    total_days: DataFrame | int | None = 30,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Label work clusters: weekday working-hour stops at non-home
    locations (reference models.py:403-453; default end hour 18 per
    the documented divergence).
    """
    work_tmp = df.filter(
        (F.col("hour") >= F.lit(start_working_hour))
        & (F.col("hour") <= F.lit(end_working_hour))
        & F.col("weekday").between(1, 5)
        & (F.col("location_type") != "H")
        & (F.col("stop_locations") != -1)
    )
    labels = _passing_labels(
        work_tmp,
        total_days,
        min_periods_over_window,
        span_period,
        "work_label",
    )
    return _apply_label(
        df, labels, "work_label", "W", broadcast=broadcast_labels
    )


def home_work_wide(labeled: DataFrame) -> DataFrame:
    """Wide per-user export ``uid, h_lat, h_lon, w_lat, w_lon``
    (reference get_stops_and_clusters.py:171-182). Requires medoid
    columns (``cluster_latitude``/``cluster_longitude``, reference
    models.py:263). Per user and type, the medoid of the row first by
    ``cluster_counts`` desc NULLS LAST, then ``stop_locations`` asc
    NULLS LAST, for determinism: one ``groupBy("uid")`` whose
    ``max_by`` key orders NULLs lowest and ``~stop_locations``
    reverses the id order.
    """
    key = F.struct(
        F.col("cluster_counts"), F.bitwise_not(F.col("stop_locations"))
    )
    medoid = F.struct(
        F.col("cluster_latitude").alias("lat"),
        F.col("cluster_longitude").alias("lon"),
    )

    def pick(t: str) -> Column:
        hit = F.col("location_type") == t
        return F.max_by(F.when(hit, medoid), F.when(hit, key)).alias(t)

    return (
        labeled.filter(F.col("location_type").isin("H", "W"))
        .groupBy("uid")
        .agg(pick("H"), pick("W"))
        .select(
            "uid",
            F.col("H.lat").alias("h_lat"),
            F.col("H.lon").alias("h_lon"),
            F.col("W.lat").alias("w_lat"),
            F.col("W.lon").alias("w_lon"),
        )
    )


def rolling_home_candidates(
    df: DataFrame,
    window_days: int = 21,
    min_stays: int = 3,
) -> DataFrame:
    """Rolling 21-day home-candidate stats (reference
    testing_home.py:13-22): per (uid, stop_locations) ordered by date,
    the sum of stay durations and count of stays within the trailing
    ``window_days`` — a range-frame window over the epoch-day value —
    with a minimum-periods gate (rows with fewer than ``min_stays``
    stays in-window yield null, as Polars ``min_periods`` does, then
    are dropped).
    """
    day = F.unix_date(F.col("date"))
    w = (
        Window.partitionBy("uid", "stop_locations")
        .orderBy(day)
        .rangeBetween(-(window_days - 1), 0)
    )
    rolled = df.withColumns(
        {
            "rolling_duration": F.sum("duration").over(w),
            "rolling_stays": F.count("*").over(w),
        }
    )
    return (
        rolled.withColumn(
            "rolling_duration",
            F.when(
                F.col("rolling_stays") >= F.lit(min_stays),
                F.col("rolling_duration"),
            ),
        )
        .na.drop(subset=["rolling_duration"])
    )
