"""Golden outputs of home/work labelling: ``date_counts`` (``total_days``
as an int and as a DataFrame, with NULL dates and a NULL uid),
``detect_home`` → ``detect_work`` and ``home_work_wide``. The fixture
has tied ``cluster_counts``, NULL ``cluster_counts``, NULL
``stop_locations``, users with only a home or only a work place and a
``-1`` noise cluster. Each product is pinned as the sha256 of its
schema (column order, types, nullability) plus its sorted rows, so any
change to a label, a medoid pick, a column or its order moves a hash."""
import hashlib
import json

import pytest

GOLDEN = {
    'date_counts.int': '39b3241fb7970eece4127a24d16c59ef26b8ec2654bc0279540d9b60223e9db3',
    'date_counts.frame': 'f04e030bd5597cff8ec5229c2983b43e2552b041bc27ede87a47a2b8f55e67ae',
    'homed': '93e832ecc59450f4f153d30e8d81e6220bc89b605d98d9c2cde676a13383c29f',
    'labeled': '085986a06f91161cbe09fd331eaf4507b920f82ddd3cc0891f9475b30ecdcebf',
    'wide.labeled': '61f34320c8292a087aa240726fbb653afc6e7256d98372d47f1884ec310ec0df',
    'wide.hand': '46e217d5ba5311a211ee21d8fc514cdcf0170f7ef7e7f4c9ae58a57798fd1f3b',
}

DAY = 86400
T0 = 1700006400  # Wednesday 2023-11-15 00:00 UTC
HOUR = 3600

#: (uid, stop_locations) -> (cluster_counts, cluster_latitude,
#: cluster_longitude); a medoid is per cluster, so every member row of
#: a cluster carries the same three values
MEDOIDS = {
    ("both", 0): (9, 19.40, -99.10),
    ("both", 1): (6, 19.43, -99.16),
    ("both", 2): (1, 19.45, -99.12),
    ("both", -1): (None, None, None),
    # two homes with tied counts: the lower cluster id wins
    ("h_only", 3): (5, 19.50, -99.20),
    ("h_only", 4): (5, 19.51, -99.21),
    ("w_only", 5): (7, 19.60, -99.30),
    # NULL counts sort last: cluster 7 wins although 6 has the lower id
    ("nullcc", 6): (None, 19.70, -99.40),
    ("nullcc", 7): (2, 19.71, -99.41),
    ("nullcc", 8): (None, 19.72, -99.42),
    ("nullcc", 9): (None, 19.73, -99.43),
}


def _sha(df) -> str:
    rows = sorted(
        json.dumps(list(r), default=str) for r in df.collect()
    )
    blob = json.dumps([df.schema.jsonValue(), rows])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _check(got: dict) -> None:
    want = {k: GOLDEN.get(k) for k in got}
    assert got == want


def _stay(uid, cluster, day, hour, hours=1):
    s = T0 + day * DAY + hour * HOUR
    return (uid, cluster, s, s + hours * HOUR, *MEDOIDS.get(
        (uid, cluster), (None, None, None)
    ))


def _rows():
    rows = []
    for d in range(14):
        weekend = d % 7 in (3, 4)  # T0 + 3 days is a Saturday
        rows.append(_stay("both", 0, d, 22))
        rows.append(_stay("both", -1, d, 23))  # noise: never labelled
        rows.append(_stay("h_only", 3, d, 1))
        rows.append(_stay("h_only", 4, d, 2))
        if d % 2:
            rows.append(_stay("nullcc", 6, d, 23))
            rows.append(_stay("nullcc", 7, d, 23))
            rows.append(_stay("nullcc", 8, d, 12))
            rows.append(_stay("nullcc", 9, d, 13))
        if not weekend:
            rows.append(_stay("both", 1, d, 10, 6))
            rows.append(_stay("w_only", 5, d, 9, 8))
        if d == 5:
            rows.append(_stay("both", 2, d, 12))
    # a stop with no cluster, a stop with no start time and a stop
    # with no user
    rows.append(_stay("both", None, 2, 23))
    rows.append(("both", 0, None, None, *MEDOIDS[("both", 0)]))
    rows.append(_stay(None, 0, 1, 22))
    return rows


@pytest.fixture(scope="module")
def prepared(spark):
    from polaroam_spark.operators.homework import prepare_labeling

    return prepare_labeling(
        spark.createDataFrame(
            _rows(),
            "uid string, stop_locations long, start_timestamp long,"
            " end_timestamp long, cluster_counts long,"
            " cluster_latitude double, cluster_longitude double",
        )
    )


def test_date_counts(prepared):
    from polaroam_spark.operators.homework import (
        calculate_total_days,
        date_counts,
    )

    _check(
        {
            "date_counts.int": _sha(date_counts(prepared, 30)),
            "date_counts.frame": _sha(
                date_counts(prepared, calculate_total_days(prepared))
            ),
        }
    )


def test_detect_and_wide(prepared):
    from polaroam_spark.operators.homework import (
        detect_home,
        detect_work,
        home_work_wide,
    )

    kw = dict(min_periods_over_window=0.3, span_period=0.2, total_days=14)
    homed = detect_home(prepared, **kw)
    labeled = detect_work(homed, **kw)
    _check(
        {
            "homed": _sha(homed),
            "labeled": _sha(labeled),
            "wide.labeled": _sha(home_work_wide(labeled)),
        }
    )


def test_wide_medoid_pick(spark):
    """``home_work_wide`` on hand-set types: ties on ``cluster_counts``
    fall to the lower ``stop_locations``, NULL counts and NULL cluster
    ids sort last, and a user with only one type gets NULLs for the
    other."""
    from polaroam_spark.operators.homework import home_work_wide

    rows = [
        ("a", "H", 1, 4, 1.0, 2.0),
        ("a", "H", 0, 4, 1.5, 2.5),
        ("a", "H", None, 4, 1.7, 2.7),
        ("a", "W", None, 3, 3.0, 4.0),
        ("a", "W", 2, None, 3.5, 4.5),
        ("a", "O", 9, 99, 9.0, 9.0),
        ("b", "W", 5, None, 5.0, 6.0),
        ("b", "W", 4, None, 5.5, 6.5),
        ("c", "H", None, None, None, 7.0),
        ("d", "O", 1, 1, 8.0, 8.0),
        (None, "H", 3, 1, 0.5, 0.5),
    ]
    df = spark.createDataFrame(
        rows,
        "uid string, location_type string, stop_locations long,"
        " cluster_counts long, cluster_latitude double,"
        " cluster_longitude double",
    )
    _check({"wide.hand": _sha(home_work_wide(df))})
