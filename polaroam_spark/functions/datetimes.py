"""Datetime expressions with the reference's semantics.

Two semantic traps (SURVEY.md §2g):

- Weekday: the reference uses ISO weekday, Mon=1..Sun=7 (Polars
  ``dt.weekday()``, reference models.py:334). Spark's ``dayofweek`` is
  Sun=1..Sat=7; ``weekday`` is Mon=0. We expose ``iso_weekday``.
- Timezone: the reference converts the UTC instant to a local wall
  clock with ``convert_time_zone`` (reference models.py:322-325). With
  the session tz pinned to UTC (session.py), ``from_utc_timestamp``
  reproduces that wall-clock shift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def iso_weekday(ts: Column | str) -> Column:
    """ISO weekday: Mon=1 .. Sun=7 (reference models.py:334)."""
    return (F.weekday(_col(ts)) + F.lit(1)).cast("int")


def epoch_seconds(ts: Column | str) -> Column:
    """Timestamp -> unix seconds (reference read_localize_write.py:24)."""
    return F.unix_timestamp(_col(ts))


def from_epoch(sec: Column | str) -> Column:
    """Unix seconds -> timestamp (reference models.py:317-320)."""
    return F.timestamp_seconds(_col(sec))


def local_time(sec: Column | str, tz: str | None) -> Column:
    """Epoch seconds -> wall-clock timestamp in ``tz`` (reference
    models.py:321-325). ``tz=None`` keeps UTC wall time."""
    ts = F.timestamp_seconds(_col(sec))
    return F.from_utc_timestamp(ts, tz) if tz else ts


def date_diff_days(later: Column | str, earlier: Column | str) -> Column:
    """Inclusive day span (reference utils.py:442-444):
    ``datediff + 1``."""
    return (F.datediff(_col(later), _col(earlier)) + F.lit(1)).cast("long")


def date_trunc_str(ts: Column | str) -> Column:
    """Date as a 'yyyy-MM-dd' string partition key (reference
    read_localize_write.py:26)."""
    return F.date_format(_col(ts), "yyyy-MM-dd")
