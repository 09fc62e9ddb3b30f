"""Golden outputs of the clustering families: per-user DBSCAN (both
metrics, both ``min_samples``, with and without the grid downsample,
string and long uids) and ``attach_medoids`` on it, distributed DBSCAN
(exact and hot-cell degraded), Infomap labels, their invariants and
the vendored backend differential. Each product is pinned as the
sha256 of its schema (column order, types, nullability) plus its
sorted rows, so any change to a label value, a column or its order
moves a hash."""
import hashlib
import json
import warnings

import numpy as np
import pytest

GOLDEN = {
    'dbscan.str.haversine.ms2.res0': 'd0e01024f426646b4c1de99e4f6ea8f092e97d954ff5d08a769ad1e5001917ce',
    'medoids.str.res0': '6cbacbf8b80f7ff9352785869afa70874ae5c4f622f4989771125ccc178c73c9',
    'dbscan.str.haversine.ms2.res0.0001': 'c698d9fa4c316e1f9f2e31dcfa666dd2a37b6f58b967166e3e6f9a01d0e3e631',
    'medoids.str.res0.0001': '9411a18a1ab214e0cdbb60fb5c10e97f733747f2363a7b77940382445c913112',
    'dbscan.str.euclidean.ms2': '140292477781f327524326cfa1da60a76a4b799a3332a6c31d332fa00444d214',
    'dbscan.str.haversine.ms3.res0': 'aaf9122eb1359b6f1f8fd500a24067ed22eaa5b214d6553c9dda9c36cd47d407',
    'dbscan.str.haversine.ms3.res0.0001': '164e531472334ac7aff1286b60c034afb85b6ba4d2e78427c6db059f6a8e13e7',
    'dbscan.str.euclidean.ms3': 'b92011cdd71a54a6385d41eb0b824226766c93643902c1566f49d8ea54d433b0',
    'dbscan.long.haversine.ms2.res0': '1b55ca1815385b6db40aff3126596b7e89664bd234faab11185cf9e43ab29ec9',
    'medoids.long.res0': 'd80a2cc9c0ee08c2d506fd10bdfacfbfd869a3c5e4539c31edb57e026adf9eab',
    'dbscan.long.haversine.ms2.res0.0001': '8e23e975c6843b661222381c69bab7470a71c5120e14bfd981519dfe1e8998e0',
    'medoids.long.res0.0001': '4965c894206de1f7934d54c9cd105c0f3c1c6653e2115458663568e3c75e6f4f',
    'dbscan.long.euclidean.ms2': 'f6aac20a699aa6b3bc2cc4621b6e57442a1d753d630c1f1ade872bc2d8eeabd4',
    'dbscan.long.haversine.ms3.res0': 'c236d4962d216d7e48ac25745339b848d5f4ac28d758e92c65a5b9d5f7c7f4af',
    'dbscan.long.haversine.ms3.res0.0001': '75963f4b016648c03d56b6be727921fac76cff1af73552a0773704cbef80308a',
    'dbscan.long.euclidean.ms3': '2ea31d9d16be1f761f5a10e1221a9249446431c50cdf9eb8bde7c54d66412409',
    'distributed.str.res0': 'f50d03bb6f5a45ca97adb159c66aec1331cf6a3a5837a0956b711c4400ba376f',
    'distributed.long.res0.0001': '8e23e975c6843b661222381c69bab7470a71c5120e14bfd981519dfe1e8998e0',
    'distributed.str.hot': 'f50d03bb6f5a45ca97adb159c66aec1331cf6a3a5837a0956b711c4400ba376f',
    'communities.str': '3728226949a47b42c678134d71264d8ae20ebba22ec87de3795cd6bf71a70951',
    'communities.long.weighted.singleton.res0.0001': '11e3dc4f59cb867a85e7bfe89b2453b15aa8e89eea54c6f41800a34bacdfce38',
    'invariants.str': 'd1aab62642acc22dc733b5ce966b8eb5043320716e1c087df091471739635ce8',
    'invariants.long.res0.0001': '65c14dfdcca82b4bdfc5556f5d9acde43a06db2d8436857b28df57b54e21f0db',
    'differential.vendored': '3cf5d55bcd904f77a2cee457c3f66e7049d9cf942cb553cba26a65eab2703631',
}

#: metres for haversine; for euclidean the same number of degrees
#: would join everything, so the euclidean runs use ``EPS_DEG``
R2 = 25.0
EPS_DEG = 2.5e-4
RES = 1e-4


def _sha(df) -> str:
    rows = sorted(
        json.dumps(list(r), default=str) for r in df.collect()
    )
    blob = json.dumps([df.schema.jsonValue(), rows])
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def _check(got: dict) -> None:
    want = {k: GOLDEN.get(k) for k in got}
    assert got == want


def _rows():
    """Six users, one to three blobs each. Points sit ~1-15 m apart
    inside a blob and blobs ~20-45 m apart, so at ε = 25 m some blobs
    chain and some stay apart; every user also has a far stray
    (noise), an isolated pair and a few repeated coordinates (visit
    multiplicity > 1)."""
    rng = np.random.default_rng(20261017)
    rows = []
    for u in range(6):
        lat0 = 19.40 + 0.05 * u
        lon0 = -99.10 - 0.03 * u
        ev = 0
        for b in range(1 + u % 3):
            clat = lat0 + b * (1.8e-4 + 1e-4 * (u % 2))
            for _ in range(4 + (u + b) % 4):
                lat = clat + float(rng.uniform(-6e-5, 6e-5))
                lon = lon0 + float(rng.uniform(-6e-5, 6e-5))
                for _rep in range(1 + int(rng.integers(0, 3) == 0)):
                    rows.append((u, ev, lat, lon, 1_700_000_000 + 600 * ev))
                    ev += 1
        # an isolated ε-pair: a cluster at min_samples=2, noise at 3
        rows.append((u, ev, lat0 - 0.005, lon0, 1_700_000_000))
        rows.append((u, ev + 1, lat0 - 0.005 + 3e-5, lon0, 1_700_000_000))
        rows.append((u, ev + 2, lat0 + 0.01, lon0 + 0.01, 1_700_000_000))
    return [
        (uid, ev, lat, lon, ts, ts + 300) for uid, ev, lat, lon, ts in rows
    ]


@pytest.fixture(scope="module")
def medians(spark):
    return spark.createDataFrame(
        [(f"user{u}", *rest) for u, *rest in _rows()],
        "uid string, stop_events long, latitude double, longitude double,"
        " start_timestamp long, end_timestamp long",
    )


@pytest.fixture(scope="module")
def medians_long(spark):
    # uid not first, to pin that outputs lead with uid
    return spark.createDataFrame(
        [(ev, 1000 + u, lat, lon, s, e) for u, ev, lat, lon, s, e in _rows()],
        "stop_events long, uid long, latitude double, longitude double,"
        " start_timestamp long, end_timestamp long",
    )


def test_dbscan_per_user(medians, medians_long):
    from polaroam_spark.operators.clustering import (
        attach_medoids,
        cluster_stops_dbscan,
    )

    got = {}
    for name, df in (("str", medians), ("long", medians_long)):
        for ms in (2, 3):
            for res in (0.0, RES):
                key = f"dbscan.{name}.haversine.ms{ms}.res{res:g}"
                labeled = cluster_stops_dbscan(
                    df, r2=R2, min_samples=ms, min_spacial_resolution=res
                )
                got[key] = _sha(labeled)
                if ms == 2:
                    got[f"medoids.{name}.res{res:g}"] = _sha(
                        attach_medoids(labeled)
                    )
            got[f"dbscan.{name}.euclidean.ms{ms}"] = _sha(
                cluster_stops_dbscan(
                    df, r2=EPS_DEG, min_samples=ms,
                    distance_metric="euclidean",
                )
            )
    _check(got)


def test_dbscan_distributed(medians, medians_long):
    from polaroam_spark.operators.clustering import (
        cluster_stops_dbscan_distributed,
    )

    got = {
        "distributed.str.res0": _sha(
            cluster_stops_dbscan_distributed(medians, r2=R2)
        ),
        "distributed.long.res0.0001": _sha(
            cluster_stops_dbscan_distributed(
                medians_long, r2=R2, min_spacial_resolution=RES
            )
        ),
    }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got["distributed.str.hot"] = _sha(
            cluster_stops_dbscan_distributed(
                medians, r2=R2, max_cell_points=3
            )
        )
    assert any("max_cell_points" in str(w.message) for w in caught)
    _check(got)


def test_communities(medians, medians_long):
    from polaroam_spark.operators.clustering import cluster_communities

    _check(
        {
            "communities.str": _sha(cluster_communities(medians, r2=R2)),
            "communities.long.weighted.singleton.res0.0001": _sha(
                cluster_communities(
                    medians_long,
                    r2=R2,
                    min_spacial_resolution=RES,
                    weighted=True,
                    label_singleton=True,
                )
            ),
        }
    )


def test_community_invariants(medians, medians_long):
    from polaroam_spark.operators.clustering import community_invariants

    _check(
        {
            "invariants.str": _sha(community_invariants(medians, r2=R2)),
            "invariants.long.res0.0001": _sha(
                community_invariants(
                    medians_long, r2=R2, min_spacial_resolution=RES
                )
            ),
        }
    )


def test_backend_differential_vendored(medians):
    from polaroam_spark.operators.clustering import (
        communities_backend_differential,
    )

    _check(
        {
            "differential.vendored": _sha(
                communities_backend_differential(
                    medians, r2=R2, target="vendored"
                )
            )
        }
    )
