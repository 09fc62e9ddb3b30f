"""Distance expressions — pure Column arithmetic, no UDFs.

The reference benchmarked a numpy-UDF haversine against a native
expression form and chose the expression
(reference utils.py:290-313, testing_harversine_polars.py:110-132);
the same reasoning holds harder in Spark: Column arithmetic stays
inside whole-stage codegen on the JVM, a Python UDF would serialize
every row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def haversine_m(
    lat1: Column | str,
    lon1: Column | str,
    lat2: Column | str,
    lon2: Column | str,
) -> Column:
    """Great-circle distance in meters (reference utils.py:290-313)."""
    lat1r = F.radians(_col(lat1))
    lon1r = F.radians(_col(lon1))
    lat2r = F.radians(_col(lat2))
    lon2r = F.radians(_col(lon2))
    dlat = lat2r - lat1r
    dlon = lon2r - lon1r
    a = F.pow(F.sin(dlat / 2.0), 2) + F.cos(lat1r) * F.cos(lat2r) * F.pow(
        F.sin(dlon / 2.0), 2
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def euclidean_m(
    lat1: Column | str,
    lon1: Column | str,
    lat2: Column | str,
    lon2: Column | str,
) -> Column:
    """Planar distance in coordinate units (reference utils.py:315-329)."""
    dlat = _col(lat2) - _col(lat1)
    dlon = _col(lon2) - _col(lon1)
    return F.sqrt(F.pow(dlat, 2) + F.pow(dlon, 2))


def pair_distance(
    lat1, lon1, lat2, lon2, distance_metric: str = "haversine"
) -> Column:
    """Dispatch on metric name (reference utils.py:332-346)."""
    if distance_metric == "haversine":
        return haversine_m(lat1, lon1, lat2, lon2)
    if distance_metric == "euclidean":
        return euclidean_m(lat1, lon1, lat2, lon2)
    raise ValueError(f"Unsupported distance metric: {distance_metric}")


def grid_snap(c: Column | str, resolution: float) -> Column:
    """Snap a coordinate to a grid: round(x / res) * res
    (reference models.py:62-69). Spark ``round`` is HALF_UP
    (half away from zero), matching the reference's rounding.
    """
    return F.round(_col(c) / F.lit(resolution), 0) * F.lit(resolution)


def zorder_key(
    lat: Column | str,
    lon: Column | str,
    bits: int = 16,
    lat_range: tuple[float, float] = (-90.0, 90.0),
    lon_range: tuple[float, float] = (-180.0, 180.0),
) -> Column:
    """Z-order (Morton) key: quantize each coordinate to ``bits``
    bits over its range and interleave them into one long. Sorting or
    range-partitioning by this key places spatially-near points in
    the same file/partition — the lake-layout primitive that lets a
    lat/lon box predicate prune most files at 100 TB (the same trick
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` applies), where sorting by
    raw (lat, lon) clusters only the leading dimension.

    Pure integer Column arithmetic (floor, shift, mask, or) —
    reproducible in any engine, no UDF. ``bits`` ≤ 31 per dimension;
    out-of-range inputs clamp to the range edges, NULL coordinates
    yield a NULL key. Static bit unroll: 2*bits or/shift terms fold
    into one codegen'd expression.
    """
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    n_cells = (1 << bits) - 1

    def _quant(c: Column | str, lo: float, hi: float) -> Column:
        scaled = (_col(c) - F.lit(lo)) / F.lit(hi - lo) * F.lit(
            float(n_cells + 1)
        )
        q = F.floor(scaled).cast("long")
        return F.least(F.greatest(q, F.lit(0)), F.lit(n_cells))

    y = _quant(lat, *lat_range)
    x = _quant(lon, *lon_range)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i
                )
            ).bitwiseOR(
                F.shiftleft(
                    F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
                )
            )
        )
    # explicit NULL guard: the clamp's greatest/least SKIP null
    # arguments (greatest(NULL, 0) = 0), which would silently map a
    # null coordinate to the range edge instead of a null key
    return F.when(
        _col(lat).isNull() | _col(lon).isNull(),
        F.lit(None).cast("long"),
    ).otherwise(z)
