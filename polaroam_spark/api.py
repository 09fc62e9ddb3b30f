"""Public pipeline API — ``StopDetect`` and ``HWEstimate``.

Mirrors the reference's class surface (``Stopdetect`` /
``HWEstimate``, reference models.py:91-453) over the functional
operators in :mod:`polaroam_spark.operators`. The classes only thread
parameters and cache intermediate DataFrames; every DataFrame they
return is lazy — nothing executes until an action, exactly like the
reference's LazyFrames.

Defaults match the reference (models.py:92, 271-283) except the two
documented divergences: ``end_working_hour=18`` (the reference default
of 6 dead-ends its own filter) and label values carrying cluster ids
(see operators/homework.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from polaroam_spark.operators.clustering import (
    attach_medoids,
    cluster_communities,
    cluster_stops_dbscan,
    cluster_stops_dbscan_distributed,
)
from polaroam_spark.operators.homework import (
    detect_home,
    detect_work,
    home_work_wide,
    prepare_labeling,
)
from polaroam_spark.operators.stops import detect_stops, stop_medians


class StopDetect:
    """Stop detection + spatial clustering (reference models.py:91-265).

    >>> model = StopDetect(r1=20, r2=20, min_staying_time=300)
    >>> events = model.fit_predict(pings)
    >>> medians = model.compute_label_medians()
    >>> clustered = model.compute_dbscan()
    """

    def __init__(
        self,
        r1: float = 10.0,
        r2: float = 10.0,
        label_singleton: bool = False,
        min_staying_time: int = 300,
        max_time_between: int = 86400,
        min_size: int = 2,
        min_spacial_resolution: float = 0.0,
        distance_metric: str = "haversine",
        weighted: bool = False,
        weight_exponent: float = 1.0,
        distributed_clustering: bool = False,
        tiebreaker: str | None = None,
    ) -> None:
        if distributed_clustering and distance_metric != "haversine":
            raise ValueError(
                "distributed_clustering is haversine-only (its grid join"
                " sizes cells in degrees from a metre radius); got"
                f" distance_metric={distance_metric!r}"
            )
        self._r1 = r1
        self._r2 = r2
        self._label_singleton = label_singleton
        self._min_staying_time = min_staying_time
        self._max_time_between = max_time_between
        self._min_size = min_size
        self._min_spacial_resolution = min_spacial_resolution
        self._distance_metric = distance_metric
        self._weighted = weighted
        self._weight_exponent = weight_exponent
        self._distributed = distributed_clustering
        self._tiebreaker = tiebreaker
        self._results: DataFrame | None = None
        self._median_coords: DataFrame | None = None
        self._stop_labels: DataFrame | None = None

    def fit_predict(self, pings: DataFrame) -> DataFrame:
        """Segment trajectories into stop events (reference
        models.py:112-161). Single-user frames without a ``uid``
        column get a synthetic one (reference models.py:130).
        """
        if "uid" not in pings.columns:
            from pyspark.sql import functions as F

            pings = pings.withColumn("uid", F.lit("single_user"))
        self._results = detect_stops(
            pings,
            r1=self._r1,
            min_size=self._min_size,
            min_staying_time=self._min_staying_time,
            max_time_between=self._max_time_between,
            distance_metric=self._distance_metric,
            tiebreaker=self._tiebreaker,
        )
        return self._results

    def compute_label_medians(self) -> DataFrame:
        self._assert_fitted(self._results)
        self._median_coords = stop_medians(self._results)
        return self._median_coords

    def compute_dbscan(self) -> DataFrame:
        """Cluster stop medians into stop locations + medoid stats
        (reference models.py:206-265)."""
        self._assert_fitted(self._median_coords)
        if self._distributed:
            labeled = cluster_stops_dbscan_distributed(
                self._median_coords,
                r2=self._r2,
                min_spacial_resolution=self._min_spacial_resolution,
            )
        else:
            labeled = cluster_stops_dbscan(
                self._median_coords,
                r2=self._r2,
                min_spacial_resolution=self._min_spacial_resolution,
                distance_metric=self._distance_metric,
            )
        self._stop_labels = attach_medoids(labeled)
        return self._stop_labels

    def compute_infomap(self) -> DataFrame:
        """Infomap community labels over the weighted ε-graph
        (reference models.py:179-204): deterministic two-level
        map-equation optimization per uid, edge weights
        max(counts)·d^-weight_exponent when ``weighted``."""
        self._assert_fitted(self._median_coords)
        self._stop_labels = cluster_communities(
            self._median_coords,
            r2=self._r2,
            min_spacial_resolution=self._min_spacial_resolution,
            label_singleton=self._label_singleton,
            weighted=self._weighted,
            weight_exponent=self._weight_exponent,
            distance_metric=self._distance_metric,
        )
        return self._stop_labels

    @staticmethod
    def _assert_fitted(df: DataFrame | None) -> None:
        if df is None:
            raise RuntimeError(
                "Model must be fitted before this operation."
            )


class HWEstimate(StopDetect):
    """Home/work labeling on top of clustered stops (reference
    models.py:271-453)."""

    def __init__(
        self,
        start_hour_day: int = 6,
        end_hour_day: int = 21,
        start_working_hour: int = 8,
        end_working_hour: int = 18,
        min_periods_over_window_home: float = 0.5,
        span_period_home: float = 0.5,
        min_periods_over_window_work: float = 0.5,
        span_period_work: float = 0.5,
        total_days: int | None = 30,
        convert_tz: bool = False,
        tz: str = "UTC",
        **kwargs,
    ) -> None:
        super().__init__(**kwargs)
        self._start_hour_day = start_hour_day
        self._end_hour_day = end_hour_day
        self._start_working_hour = start_working_hour
        self._end_working_hour = end_working_hour
        self._min_home = min_periods_over_window_home
        self._span_home = span_period_home
        self._min_work = min_periods_over_window_work
        self._span_work = span_period_work
        self._total_days = total_days
        self._convert_tz = convert_tz
        self._tz = tz
        self._hw_df: DataFrame | None = None
        self._home_detected = False

    def prepare_labeling(self, df: DataFrame) -> DataFrame:
        self._hw_df = prepare_labeling(
            df, tz=self._tz, convert_tz=self._convert_tz
        )
        return self._hw_df

    def detect_home(self) -> DataFrame:
        self._assert_fitted(self._hw_df)
        self._hw_df = detect_home(
            self._hw_df,
            start_hour_day=self._start_hour_day,
            end_hour_day=self._end_hour_day,
            min_periods_over_window=self._min_home,
            span_period=self._span_home,
            total_days=self._total_days,
        )
        self._home_detected = True
        return self._hw_df

    def detect_work(self) -> DataFrame:
        if not self._home_detected:
            raise RuntimeError(
                "Home detection must be performed before work detection."
            )
        self._hw_df = detect_work(
            self._hw_df,
            start_working_hour=self._start_working_hour,
            end_working_hour=self._end_working_hour,
            min_periods_over_window=self._min_work,
            span_period=self._span_work,
            total_days=self._total_days,
        )
        return self._hw_df

    def home_work_wide(self) -> DataFrame:
        self._assert_fitted(self._hw_df)
        return home_work_wide(self._hw_df)
