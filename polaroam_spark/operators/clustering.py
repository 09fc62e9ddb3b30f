"""Spatial clustering of stop medians into stop locations.

One per-user clustering core (SURVEY.md §2h, §7 phase 2): every family
keys a stop median to a graph node by its (optionally grid-snapped,
reference models.py:60-87) coordinates (``_node_key``), reads one
node table of unique nodes + visit counts per uid (``_node_table``)
and joins node labels back to member rows on (uid, node key)
(``_join_back`` — the reference realigns by list-collect + explode of
row indexes, models.py:206-265; the join gives the same rows without
an ordered-list dependency). The per-user families run one guarded
Arrow grouped map per uid over the nodes sorted by (lat, lon)
(``_per_user_map``):

1. ``cluster_stops_dbscan``: exact DBSCAN (``dbscan_labels``, numpy —
   sklearn is not available here; its label semantics: clusters
   0..k-1 in order of first core point, noise = -1);
2. ``cluster_communities`` / ``community_invariants`` /
   ``communities_backend_differential``: Infomap over the weighted
   per-user ε-graph, its certification and its differential.

The scale path ``cluster_stops_dbscan_distributed`` (``min_samples=2``,
the reference's default, where DBSCAN is exactly connected components
of the ε-graph) shares the node key, node table and join-back but no
per-user group: candidate edges come from a grid-cell self-join on the
9 neighbouring cells (a range-join analogue of the reference's BallTree
``query_radius``, utils.py:32-65) and components from large-star/
small-star contraction (operators/graph.py, O(log n) rounds).

Medoid stats (``cluster_medoids``) are plain groupBy aggregates — the
reference wraps them in a per-group Python callback
(models.py:245-261) but they are pure relational aggregation, so here
they stay native and oracle-checkable.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polaroam_spark.functions.distance import (
    EARTH_RADIUS_M,
    grid_snap,
    haversine_m,
)
from polaroam_spark.session import materialize

#: Unique nodes one user may have on the per-user paths: each builds
#: an O(n²) distance matrix, and 20k nodes is ~3.2 GB of doubles.
#: Beyond that a task would silently eat executor memory, so the
#: per-user map fails loudly and names the remedies instead.
_MAX_USER_NODES = 20_000
#: Star-contraction rounds of the distributed path. Each round at
#: least halves component-tree height, so 50 covers any physically
#: possible ε-chain and hitting it means an engine bug, not long input.
_MAX_STAR_ROUNDS = 50
#: A hot cell of the distributed path is snapped to a grid this many
#: times finer than ε per axis (~3 m at ε = 25 m, far inside GPS noise).
_HOT_CELL_SUBDIVISIONS = 8

_COORD_FIELDS = (
    StructField("latitude", DoubleType()),
    StructField("longitude", DoubleType()),
)


def _uid_schema(df: DataFrame, *fields: StructField) -> StructType:
    """Grouped-map output schema: the uid field typed as in the input
    (uids may be strings or hashed longs, sources/io.py:hash_uid),
    then ``fields``."""
    return StructType([df.schema["uid"], *fields])


def _metric(distance_metric: str) -> str:
    metric = str(distance_metric)
    if metric not in ("haversine", "euclidean"):
        raise ValueError(f"Unsupported distance metric: {metric}")
    return metric


def _trials(num_trials: int) -> int:
    trials = int(num_trials)
    if trials < 1:
        raise ValueError(
            f"num_trials must be >= 1 (got {num_trials}): zero trials"
            " would select no partition at all"
        )
    return trials


def _node_key(min_spacial_resolution: float) -> "tuple[Column, Column]":
    """How a stop median becomes a graph node: its coordinates,
    snapped to the ``min_spacial_resolution`` grid when that is > 0
    (reference models.py:60-87)."""
    if min_spacial_resolution > 0:
        return (
            grid_snap("latitude", min_spacial_resolution),
            grid_snap("longitude", min_spacial_resolution),
        )
    return F.col("latitude"), F.col("longitude")


def _node_table(
    medians: DataFrame,
    min_spacial_resolution: float,
    per_user: bool = True,
) -> DataFrame:
    """One row per (uid, node key ``latitude, longitude``) with its
    visit multiplicity ``n_members`` (the reference's ``count``,
    models.py:60-87); callers that drop it let column pruning remove it.

    ``per_user`` pins the table to ONE exchange, a keyed repartition on
    uid that satisfies both the aggregation and the grouped map's
    ``groupBy("uid")``. Its partition count is the larger of the
    worker slots (``defaultParallelism``) and the session's shuffle
    partitions, so a cluster sized by ``spark.sql.shuffle.partitions``
    spreads straggler users over that many Python tasks. Each task of
    the grouped map pays a fixed worker set-up cost (0.2-0.75 s of CPU
    measured on 4 local cores), so a local session that ``get_spark``
    starts sets the two equal: one task per slot. AQE's bytes-based
    coalescing would merge the tiny node table into one partition and
    run every user's sweep in one worker; a keyed repartition is
    exempt. The distributed path passes ``per_user=False``: a uid-only
    key would put one huge user into one task."""
    glat, glon = _node_key(min_spacial_resolution)
    nodes = medians.select(
        "uid", glat.alias("latitude"), glon.alias("longitude")
    )
    if per_user:
        sess = medians.sparkSession
        n_py = max(
            sess.sparkContext.defaultParallelism,
            int(sess.conf.get("spark.sql.shuffle.partitions")),
        )
        nodes = nodes.repartition(n_py, "uid")
    return nodes.groupBy("uid", "latitude", "longitude").agg(
        F.count("*").alias("n_members")
    )


def _per_user_map(nodes: DataFrame, fn, *fields: StructField) -> DataFrame:
    """Run ``fn`` on each user's nodes as one Arrow grouped map with
    output schema ``uid, *fields``. ``fn`` sees the nodes sorted by
    (lat, lon) — a deterministic order whatever the shuffle arrival
    order — and never more than ``_MAX_USER_NODES`` of them."""

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > _MAX_USER_NODES:
            raise ValueError(
                f"user {pdf['uid'].iloc[0]!r} has {len(pdf)} unique stop"
                f" coordinates (> {_MAX_USER_NODES}); the per-user"
                " clustering paths build an O(n^2) distance matrix."
                " Raise min_spacial_resolution to downsample first, or"
                " (DBSCAN, min_samples=2) use"
                " cluster_stops_dbscan_distributed."
            )
        return fn(pdf.sort_values(["latitude", "longitude"], kind="mergesort"))

    _run.__name__ = fn.__name__  # the family's name in plans and the UI
    return nodes.groupBy("uid").applyInPandas(
        _run, schema=_uid_schema(nodes, *fields)
    )


def _join_back(
    medians: DataFrame, labeled: DataFrame, min_spacial_resolution: float
) -> DataFrame:
    """Give every member row its node's labels: left join of
    ``labeled`` (``uid, latitude, longitude`` = node key, then label
    columns) on the rows' own node key. Output: ``uid``, then the
    other columns of ``medians`` in their order, then the labels."""
    glat, glon = _node_key(min_spacial_resolution)
    return (
        medians.withColumns({"_glat": glat, "_glon": glon})
        .join(
            labeled.withColumnsRenamed(
                {"latitude": "_glat", "longitude": "_glon"}
            ),
            on=["uid", "_glat", "_glon"],
            how="left",
        )
        .drop("_glat", "_glon")
    )


def _label_nodes(
    medians: DataFrame,
    min_spacial_resolution: float,
    label_col: str,
    label_fn,
    need_counts: bool = True,
) -> DataFrame:
    """The labelling families' one shape: node table → per-user map
    labelling each node with ``label_fn(sorted nodes)`` (a long array)
    → join-back onto ``medians``."""
    nodes = _node_table(medians, min_spacial_resolution)
    if not need_counts:
        nodes = nodes.drop("n_members")

    def _labels(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["uid", "latitude", "longitude"]].assign(
            **{label_col: label_fn(pdf)}
        )

    _labels.__name__ = label_fn.__name__
    labeled = _per_user_map(
        nodes, _labels, *_COORD_FIELDS, StructField(label_col, LongType())
    )
    return _join_back(medians, labeled, min_spacial_resolution)


def _components(n: int, edges) -> np.ndarray:
    """Connected components by union-find: each node's label is the
    smallest node id of its component."""
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = int(parent[x])
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)], dtype=np.int64)


def _haversine_matrix_m(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """All-pairs haversine distance (meters) for one user's medians."""
    latr = np.radians(lat)[:, None]
    lonr = np.radians(lon)[:, None]
    dlat = latr - latr.T
    dlon = lonr - lonr.T
    a = (
        np.sin(dlat / 2.0) ** 2
        + np.cos(latr) * np.cos(latr.T) * np.sin(dlon / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def _distance_matrix(
    lat: np.ndarray, lon: np.ndarray, distance_metric: str
) -> np.ndarray:
    """All-pairs distance in the metric's native units: meters for
    haversine, raw coordinate units for euclidean (projected data —
    the reference's convention, utils.py:17-18 / 203-215: eps passes
    through unscaled for euclidean)."""
    if distance_metric == "haversine":
        return _haversine_matrix_m(lat, lon)
    if distance_metric == "euclidean":
        dx = lat[:, None] - lat[None, :]
        dy = lon[:, None] - lon[None, :]
        return np.sqrt(dx * dx + dy * dy)
    raise ValueError(f"Unsupported distance metric: {distance_metric}")


def dbscan_labels(
    lat: np.ndarray,
    lon: np.ndarray,
    eps_m: float,
    min_samples: int = 2,
    distance_metric: str = "haversine",
) -> np.ndarray:
    """Exact DBSCAN — numpy reimplementation of the semantics the
    reference gets from sklearn (utils.py:203-215): labels 0..k-1
    assigned in scan order of the first reachable core point; noise =
    -1; border points join the first core cluster that reaches them.
    ``eps_m`` is meters for haversine, coordinate units for euclidean.
    """
    n = len(lat)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    dist = _distance_matrix(
        np.asarray(lat), np.asarray(lon), distance_metric
    )
    neighbors = dist <= eps_m  # includes self
    core = neighbors.sum(axis=1) >= min_samples
    labels = np.full(n, -1, dtype=np.int64)
    cluster = 0
    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        # BFS from core point i over core-reachable neighbors.
        stack = [i]
        labels[i] = cluster
        while stack:
            j = stack.pop()
            if not core[j]:
                continue
            for k in np.nonzero(neighbors[j])[0]:
                if labels[k] == -1:
                    labels[k] = cluster
                    stack.append(int(k))
        cluster += 1
    return labels


def cluster_stops_dbscan(
    medians: DataFrame,
    r2: float = 10.0,
    min_samples: int = 2,
    min_spacial_resolution: float = 0.0,
    distance_metric: str = "haversine",
) -> DataFrame:
    """Cluster each user's stop medians into stop locations.

    Mirrors ``Stopdetect.compute_dbscan`` (reference models.py:206-265):
    optional grid downsample (reference models.py:60-87), per-user
    DBSCAN over the unique coordinates, labels joined back to every
    member row on the (uid, snapped-coord) key (see the module
    docstring).

    Input: ``stop_medians`` output (uid, stop_events, latitude,
    longitude, start_timestamp, end_timestamp). Output: input columns
    + ``stop_locations`` (long, -1 = noise; ids unique per uid only,
    reference quirk SURVEY.md §2i).
    """
    eps = float(r2)
    msamp = int(min_samples)
    metric = _metric(distance_metric)

    def _cluster(pdf: pd.DataFrame) -> np.ndarray:
        return dbscan_labels(
            pdf["latitude"].to_numpy(),
            pdf["longitude"].to_numpy(),
            eps_m=eps,
            min_samples=msamp,
            distance_metric=metric,
        )

    # DBSCAN ignores visit multiplicity
    return _label_nodes(
        medians, min_spacial_resolution, "stop_locations", _cluster,
        need_counts=False,
    )


def cluster_medoids(labeled: DataFrame) -> DataFrame:
    """Per-(uid, stop_locations) medoid stats: member count and median
    coordinate; noise pseudo-clusters forced to count=1 (reference
    models.py:245-261). Native aggregation — the reference's
    ``map_groups`` here is pure groupBy/agg, so no UDF.
    """
    return (
        labeled.groupBy("uid", "stop_locations")
        .agg(
            F.count("*").alias("cluster_counts"),
            F.median("latitude").alias("cluster_latitude"),
            F.median("longitude").alias("cluster_longitude"),
        )
        .withColumn(
            "cluster_counts",
            F.when(F.col("stop_locations") == -1, F.lit(1)).otherwise(
                F.col("cluster_counts")
            ).cast("long"),
        )
    )


def attach_medoids(labeled: DataFrame) -> DataFrame:
    """Attach medoid stats to member rows (reference models.py:263) —
    column-for-column the old aggregate+join-back output (keys first,
    then member columns, then the three stats), row values identical
    (same ``count``/``median`` aggregates over the same groups).

    Implementation (r19 optimization round): the stats are computed
    as WINDOW aggregates over ``(uid, stop_locations)`` in one pass —
    the aggregate-then-join-back shape consumed ``labeled`` twice, and
    ``labeled`` is typically the per-user DBSCAN ``applyInPandas``
    output, so the Python clustering stage (and the whole stop-median
    lineage under it) executed TWICE per action (2 FlatMapGroupsInPandas
    nodes on the r19 bench plan; guide §2.4 — two operations keyed the
    same way share one exchange). Now: one exchange on the cluster
    key, zero joins, the member side never recomputes, and there is no
    join side to broadcast (no national-scale broadcast limit).
    """
    member_cols = [
        c for c in labeled.columns
        if c not in ("uid", "stop_locations")
    ]
    w = Window.partitionBy("uid", "stop_locations")
    # the old equi-join never matched NULL keys, leaving NULL stats
    # on such rows — preserve that exactly (a NULL key forms a real
    # window partition, so the guard is load-bearing)
    valid = (
        F.col("uid").isNotNull()
        & F.col("stop_locations").isNotNull()
    )
    return labeled.withColumns(
        {
            "cluster_counts": F.when(
                valid & (F.col("stop_locations") == -1), F.lit(1)
            )
            .when(valid, F.count("*").over(w))
            .cast("long"),
            "cluster_latitude": F.when(
                valid, F.median("latitude").over(w)
            ),
            "cluster_longitude": F.when(
                valid, F.median("longitude").over(w)
            ),
        }
    ).select(
        "uid",
        "stop_locations",
        *member_cols,
        "cluster_counts",
        "cluster_latitude",
        "cluster_longitude",
    )


def cluster_stops_dbscan_distributed(
    medians: DataFrame,
    r2: float = 10.0,
    min_spacial_resolution: float = 0.0,
    max_cell_points: "int | None" = 2000,
) -> DataFrame:
    """Scale-path DBSCAN for ``min_samples=2``: connected components of
    the ε-graph (exact equivalence — every point with a neighbor within
    ε is core when min_samples=2).

    Plan shape (all shuffle-partitioned, no cross join, no collect of
    data rows):
      1. assign each point an integer grid cell of size ε;
      2. candidate pairs = equi-join on the 3×3 neighboring cells
         (each point is replicated 9× on the build side — bounded
         blow-up, prunes the quadratic search space);
      3. keep pairs with haversine ≤ ε;
      4. connected components of the undirected edge set via
         alternating large-star/small-star contraction
         (operators/graph.py) — O(log n) rounds of two bucket-keyed
         shuffles each, at most ``_MAX_STAR_ROUNDS``.

    Labels are re-densified per uid (0..k-1 by first appearance in
    (lat, lon) order) to match the per-user labeling contract;
    singleton points (no ε-neighbor) get -1.

    **Dense-cell auto-degrade** (``max_cell_points``, r8 verdict #4 /
    r9 #4): one ε-ball holding k points legitimately contains Θ(k²)
    ε-pairs — the r8 skew probe measured the 3×3 join going
    super-linear from shuffle spill past ~8k points in one cell.
    When any (uid, cell) exceeds ``max_cell_points`` unique
    coordinates, the members of THAT CELL ONLY are snapped to a
    ``cell/_HOT_CELL_SUBDIVISIONS`` sub-grid before pair generation
    (bounding the cell at ~64 unique coordinates) and original
    coordinates are labeled through a join-back on the snapped key —
    the same lossy contract as ``min_spacial_resolution``, applied
    automatically, only where needed, and LOUDLY (a ``UserWarning``
    names the hot-cell count and the effective resolution). For
    ε = 25 m the sub-grid merges points within ~3 m. Cells below the
    threshold are untouched, so results are bit-identical to the
    exact path whenever no cell is hot (the c3b gate's case at every
    test SF). Pass ``max_cell_points=None`` to forbid degrading and
    pay the exact quadratic cost.
    """
    # ε in degrees of latitude. A degree of LONGITUDE spans only
    # cos(lat) of that, so ε-close east-west pairs can sit 2+
    # lat-sized cells apart at high latitudes and escape a 3×3
    # neighbor join. Size the longitude cell by the worst (smallest)
    # cos in the data — one scalar aggregate — so every ε-pair is
    # within one cell in each axis; wider cells only add candidates,
    # never lose pairs.
    cell_deg = math.degrees(float(r2) / EARTH_RADIUS_M)

    # Persist the snapped point table FIRST, then take the latitude
    # bound from it: the bound must be a plan-build-time scalar (cell
    # geometry depends on it), and deriving it from the persisted
    # frame (a) runs the caller's upstream pipeline ONCE into the
    # cache instead of once for the aggregate and again for the join
    # below, and (b) measures the SNAPPED latitudes the grid actually
    # uses — grid_snap can round an extreme point polewards, and a
    # bound from raw latitudes would make lon_cell_deg fractionally
    # too small to guarantee 3x3 coverage at that snapped latitude.
    base = _node_table(
        medians, min_spacial_resolution, per_user=False
    ).drop("n_members")
    base = base.persist()
    max_abs_lat = (
        base.agg(F.max(F.abs(F.col("latitude")))).first()[0] or 0.0
    )
    # + cell_deg of margin: the hot-cell sub-grid snap below can move
    # a point poleward by less than one cell, and the cos floor must
    # cover the latitudes the grid ACTUALLY sees after that snap
    cos_floor = max(
        math.cos(math.radians(min(max_abs_lat + cell_deg, 89.0))), 0.02
    )
    lon_cell_deg = cell_deg / cos_floor

    # Dense-cell auto-degrade (see docstring): count unique coords
    # per (uid, cell); members of over-threshold cells are snapped to
    # the sub-grid, everything else keeps exact coordinates. key_map
    # carries original-coord -> clustering-coord for the label
    # join-back; None when nothing degraded (the common case).
    key_map = None
    work = base
    if max_cell_points is not None:
        cells = base.withColumns(
            {
                "cx": F.floor(F.col("latitude") / F.lit(cell_deg)),
                "cy": F.floor(F.col("longitude") / F.lit(lon_cell_deg)),
            }
        )
        hot = (
            cells.groupBy("uid", "cx", "cy")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > int(max_cell_points))
            .select("uid", "cx", "cy")
        )
        n_hot = hot.count()  # one cheap job over the persisted base
        if n_hot:
            s = _HOT_CELL_SUBDIVISIONS
            fine_lat = cell_deg / s
            fine_lon = lon_cell_deg / s
            warnings.warn(
                f"cluster_stops_dbscan_distributed: {n_hot} (uid,"
                f" cell) groups exceed max_cell_points="
                f"{max_cell_points}; snapping their members to a"
                f" 1/{s}-cell sub-grid (~{float(r2) / s:.2f} m at"
                " this eps) to bound the quadratic pair blow-up."
                " Results for those cells follow the"
                " min_spacial_resolution downsample contract; pass"
                " max_cell_points=None to forbid degrading.",
                UserWarning,
                stacklevel=2,
            )
            snapped = (
                cells.join(
                    hot.withColumn("_hot", F.lit(True)),
                    on=["uid", "cx", "cy"],
                    how="left",
                )
                .withColumns(
                    {
                        "_slat": F.when(
                            F.col("_hot"),
                            grid_snap("latitude", fine_lat),
                        ).otherwise(F.col("latitude")),
                        "_slon": F.when(
                            F.col("_hot"),
                            grid_snap("longitude", fine_lon),
                        ).otherwise(F.col("longitude")),
                    }
                )
                .select("uid", "latitude", "longitude", "_slat", "_slon")
            )
            key_map = snapped.persist()
            work = (
                key_map.select(
                    "uid",
                    F.col("_slat").alias("latitude"),
                    F.col("_slon").alias("longitude"),
                )
                .dropDuplicates(["uid", "latitude", "longitude"])
            )

    pts0 = (
        work.withColumn(
            "point_id",
            F.row_number().over(
                Window.partitionBy("uid").orderBy("latitude", "longitude")
            ).cast("long"),
        )
        .withColumn("cx", F.floor(F.col("latitude") / F.lit(cell_deg)))
    )
    pts0 = pts0.persist()

    pts = pts0.withColumn(
        "cy", F.floor(F.col("longitude") / F.lit(lon_cell_deg))
    )

    # Replicate the left side into its 9 neighboring cells, equi-join on
    # the cell, then exact-filter with haversine. explode(sequence) is
    # JVM-native; no Python in the path.
    offsets = F.expr(
        "explode(transform(sequence(0, 8), i -> struct(i div 3 - 1 as dx, i % 3 - 1 as dy)))"
    )
    left = pts.select(
        "uid",
        F.col("point_id").alias("pid_a"),
        F.col("latitude").alias("lat_a"),
        F.col("longitude").alias("lon_a"),
        "cx",
        "cy",
        offsets.alias("off"),
    ).select(
        "uid",
        "pid_a",
        "lat_a",
        "lon_a",
        (F.col("cx") + F.col("off.dx")).alias("jx"),
        (F.col("cy") + F.col("off.dy")).alias("jy"),
    )
    # Antimeridian wrap: ε-pairs straddling lon = ±180 sit at opposite
    # extremes of the cy axis and would never meet in a 3x3 window.
    # Points within one lon cell of the seam get a GHOST copy on the
    # build side with longitude shifted by ∓360 — the ghost's cy is
    # adjacent to the other side's real points, haversine is exact
    # under a 360° shift (it only sees Δlon through sin/cos), and the
    # ghost carries the real point_id so emitted edges are valid.
    near_e = pts.filter(
        F.col("longitude") >= F.lit(180.0 - lon_cell_deg)
    ).withColumn("longitude", F.col("longitude") - F.lit(360.0))
    near_w = pts.filter(
        F.col("longitude") <= F.lit(-180.0 + lon_cell_deg)
    ).withColumn("longitude", F.col("longitude") + F.lit(360.0))
    ghosts = (
        near_e.unionByName(near_w)
        .withColumn(
            "cy", F.floor(F.col("longitude") / F.lit(lon_cell_deg))
        )
    )
    right = pts.unionByName(ghosts).select(
        "uid",
        F.col("point_id").alias("pid_b"),
        F.col("latitude").alias("lat_b"),
        F.col("longitude").alias("lon_b"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    edges = (
        left.join(right, on=["uid", "jx", "jy"], how="inner")
        .filter(F.col("pid_a") != F.col("pid_b"))
        .filter(haversine_m("lat_a", "lon_a", "lat_b", "lon_b") <= F.lit(float(r2)))
        .select("uid", "pid_a", "pid_b")
    )
    edges = edges.persist()

    # Components of the per-uid ε-graph via alternating large-star/
    # small-star contraction (operators/graph.py): O(log n) rounds vs
    # the O(ε-chain length) of per-hop label propagation — a dense
    # urban corridor legitimately chains thousands of ε-hops.  Points
    # without edges are absent from `labels`; coalesced to self below.
    from polaroam_spark.operators.graph import connected_components

    labels = connected_components(
        edges,
        src="pid_a",
        dst="pid_b",
        key_cols=["uid"],
        max_rounds=_MAX_STAR_ROUNDS,
    ).select(
        "uid",
        F.col("node").alias("point_id"),
        F.col("component").alias("component"),
    )

    # Singletons (no edge at all) -> -1; dense per-uid ids 0..k-1 for
    # the rest. Rank ONLY the connected points — ranking singleton
    # components too would shift real cluster ids and break parity
    # with the per-user DBSCAN path.
    has_edge = edges.select(
        "uid", F.col("pid_a").alias("point_id")
    ).dropDuplicates()
    joined = pts.join(labels, on=["uid", "point_id"], how="left").join(
        has_edge.withColumn("_has_edge", F.lit(True)),
        on=["uid", "point_id"],
        how="left",
    )
    connected = joined.filter(F.col("_has_edge")).withColumn(
        "stop_locations",
        (
            F.dense_rank().over(
                Window.partitionBy("uid").orderBy("component")
            )
            - 1
        ).cast("long"),
    )
    singletons = joined.filter(F.col("_has_edge").isNull()).withColumn(
        "stop_locations", F.lit(-1).cast("long")
    )
    labeled_pts = connected.unionByName(singletons).select(
        "uid", "latitude", "longitude", "stop_locations"
    )
    if key_map is not None:
        # degraded cells: labels live on SNAPPED coords; route them
        # back to each original unique coordinate through key_map
        labeled_pts = key_map.join(
            labeled_pts.withColumnsRenamed(
                {"latitude": "_slat", "longitude": "_slon"}
            ),
            on=["uid", "_slat", "_slon"],
            how="left",
        ).select("uid", "latitude", "longitude", "stop_locations")
    # materialize the (small) label table BEFORE releasing the cached
    # pts/edges it derives from — otherwise the caller's first action
    # would recompute the expensive cell-replication join from scratch
    labeled_pts = materialize(labeled_pts)

    out = _join_back(medians, labeled_pts, min_spacial_resolution)
    if not min_spacial_resolution > 0:
        # this path's output contract: unsnapped coordinates lead
        key = ["uid", "latitude", "longitude"]
        out = out.select(*key, *[c for c in out.columns if c not in key])
    base.unpersist()
    if key_map is not None:
        key_map.unpersist()
    pts0.unpersist()
    edges.unpersist()
    return out


def _monotone_chain(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain convex hull on (n, 2) points; returns
    hull vertices in counter-clockwise order. Pure numpy — the
    reference uses scipy's ConvexHull (utils.py:151-165), unavailable
    here; the algorithm is the textbook public-domain one."""
    pts = np.unique(points, axis=0)
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return np.array(lower[:-1] + upper[:-1])


def convex_hull(
    df: DataFrame,
    square_padding_deg: float = 0.0001,
) -> DataFrame:
    """Per-user convex hull of stop coordinates (reference
    utils.py:151-165, C5). Degenerate inputs (<3 distinct points, or
    all collinear) fall back to a padded bounding square around the
    points, mirroring the reference's square fallback.

    Output: one row per hull vertex — ``uid, vertex_order, latitude,
    longitude``. Runs as an Arrow grouped-map per uid (per-user stop
    counts are bounded small; the hull is not a relational op).
    """
    pad = float(square_padding_deg)

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[["latitude", "longitude"]].to_numpy()
        hull = _monotone_chain(pts)
        if len(hull) < 3:
            lat_min, lon_min = pts.min(axis=0)
            lat_max, lon_max = pts.max(axis=0)
            hull = np.array(
                [
                    [lat_min - pad, lon_min - pad],
                    [lat_min - pad, lon_max + pad],
                    [lat_max + pad, lon_max + pad],
                    [lat_max + pad, lon_min - pad],
                ]
            )
        return pd.DataFrame(
            {
                "uid": pdf["uid"].iloc[0],
                "vertex_order": np.arange(len(hull), dtype=np.int64),
                "latitude": hull[:, 0],
                "longitude": hull[:, 1],
            }
        )

    return (
        df.select("uid", "latitude", "longitude")
        .groupBy("uid")
        .applyInPandas(
            _hull,
            schema=_uid_schema(
                df, StructField("vertex_order", LongType()), *_COORD_FIELDS
            ),
        )
    )


def max_pairwise_distance(df: DataFrame) -> DataFrame:
    """Per-user maximum pairwise haversine distance between stop
    coordinates (reference utils.py:136-149, C6) — expressed as a
    self-equi-join on uid + max aggregate: relational, shuffle-keyed
    by uid, no UDF, unlike the reference's O(n²) numpy loop."""
    a = df.select("uid", F.col("latitude").alias("_lat_a"), F.col("longitude").alias("_lon_a"))
    b = df.select("uid", F.col("latitude").alias("_lat_b"), F.col("longitude").alias("_lon_b"))
    return (
        a.join(b, on="uid", how="inner")
        .groupBy("uid")
        .agg(
            F.max(
                haversine_m("_lat_a", "_lon_a", "_lat_b", "_lon_b")
            ).alias("max_distance_m")
        )
    )


def _plogp(x: float) -> float:
    """x*log2(x) with plogp(0)=0 — the map equation's unit term."""
    return x * math.log2(x) if x > 0.0 else 0.0


def _mapeq_local_moves(
    adj: list,
    strength: np.ndarray,
    tot_w: float,
    tol: float = 1e-12,
    rng: "np.random.RandomState | None" = None,
    init_module: "np.ndarray | None" = None,
) -> np.ndarray:
    """One Louvain-style level of greedy map-equation minimization.

    Every node starts in its own module (or in ``init_module`` when
    given — the polish step of :func:`_eject_refine` resumes from an
    existing partition; ids must be < n); nodes are visited in fixed
    ascending order (``rng=None`` — the base trial: no RNG, so Spark
    task retries and oracle runs see identical labels) or in an order
    re-drawn from ``rng`` each pass (the extra seeded trials of
    :func:`two_level_infomap` — still deterministic given the seed,
    numpy's generator is stable cross-platform) and moved to the
    neighboring module that most decreases the two-level map equation

        L(M) = plogp(Q) - 2*sum_m plogp(q_m)
               - sum_a plogp(p_a) + sum_m plogp(q_m + P_m)

    (Rosvall & Bergstrom, PNAS 105(4):1118, 2008; undirected flow:
    p_a = strength_a / tot_w, q_m = cut_m / tot_w). The node term is
    partition-independent, so deltas touch only the q/P terms of the
    two modules involved. Passes repeat until a full pass moves
    nothing. Returns the module id per node (not densified).
    """
    n = len(adj)
    p = strength / tot_w
    ext = np.array([sum(d.values()) for d in adj], dtype=np.float64)
    # Per-module state, in weight units for cuts (divide by tot_w when
    # entering the formula): singleton modules start with cut = ext.
    if init_module is None:
        module = np.arange(n)
        P = p.copy()
        CUT = ext.copy()
    else:
        module = init_module.astype(np.int64).copy()
        P = np.zeros(n)
        np.add.at(P, module, p)
        CUT = np.zeros(n)
        for i, d in enumerate(adj):
            mi = int(module[i])
            for j, w in d.items():
                if mi != int(module[j]):
                    CUT[mi] += w
    Q = float(CUT.sum()) / tot_w

    order = np.arange(n)
    for _ in range(200):
        moved = False
        if rng is not None:
            order = rng.permutation(n)
        for i in order:
            i = int(i)
            if not adj[i]:
                continue
            a = int(module[i])
            w_to: dict = {}
            for j, w in adj[i].items():
                m = int(module[j])
                w_to[m] = w_to.get(m, 0.0) + w
            w_i_a = w_to.get(a, 0.0)
            cands = sorted(m for m in w_to if m != a)
            if not cands:
                continue
            q_a, P_a = CUT[a] / tot_w, P[a]
            q_a2 = (CUT[a] - ext[i] + 2.0 * w_i_a) / tot_w
            P_a2 = P_a - p[i]
            base_old = -2.0 * _plogp(q_a) + _plogp(q_a + P_a)
            base_new = -2.0 * _plogp(q_a2) + _plogp(q_a2 + P_a2)
            best_delta, best_b = -tol, -1
            for b in cands:
                q_b, P_b = CUT[b] / tot_w, P[b]
                q_b2 = (CUT[b] + ext[i] - 2.0 * w_to[b]) / tot_w
                P_b2 = P_b + p[i]
                delta = (
                    _plogp(Q + q_a2 - q_a + q_b2 - q_b)
                    - _plogp(Q)
                    + base_new
                    - base_old
                    - 2.0 * _plogp(q_b2)
                    + 2.0 * _plogp(q_b)
                    + _plogp(q_b2 + P_b2)
                    - _plogp(q_b + P_b)
                )
                if delta < best_delta:
                    best_delta, best_b = delta, b
            if best_b >= 0:
                b = best_b
                Q += (
                    (CUT[a] - ext[i] + 2.0 * w_i_a)
                    + (CUT[b] + ext[i] - 2.0 * w_to[b])
                    - CUT[a]
                    - CUT[b]
                ) / tot_w
                CUT[a] = CUT[a] - ext[i] + 2.0 * w_i_a
                CUT[b] = CUT[b] + ext[i] - 2.0 * w_to[b]
                P[a] -= p[i]
                P[b] += p[i]
                module[i] = b
                moved = True
        if not moved:
            break
    return module


def _aggregate(adj: list, strength: np.ndarray, dense: np.ndarray):
    """Aggregate modules into super-nodes. Intra-module weight stays
    inside the super-node: it contributes to strength (visit rate)
    but never to a cut, so only inter-module edges enter the new
    adjacency. ``dense`` must be 0..k-1 module ids per node."""
    k = int(dense.max()) + 1 if len(dense) else 0
    new_strength = np.zeros(k)
    np.add.at(new_strength, dense, strength)
    new_adj: list = [dict() for _ in range(k)]
    for i, d in enumerate(adj):
        mi = int(dense[i])
        for j, w in d.items():
            mj = int(dense[j])
            if mi != mj:
                new_adj[mi][mj] = new_adj[mi].get(mj, 0.0) + w
    return new_adj, new_strength


def _hierarchical_mapeq(
    adj: list,
    strength: np.ndarray,
    tot_w: float,
    rng: "np.random.RandomState | None" = None,
) -> np.ndarray:
    """One full multi-level map-equation optimization: local-move
    sweeps to convergence, module aggregation into super-nodes,
    repeated until a level merges nothing. Returns flat module labels
    per ORIGINAL node (not densified). Reads ``adj``/``strength``
    without mutating them, so trials can share the built graph."""
    labels = np.arange(len(adj), dtype=np.int64)
    while True:
        module = _mapeq_local_moves(adj, strength, tot_w, rng=rng)
        uniq, dense = np.unique(module, return_inverse=True)
        if len(uniq) == len(adj):  # nothing merged: converged
            break
        labels = dense[labels]
        if len(uniq) == 1:
            break
        adj, strength = _aggregate(adj, strength, dense)
    return labels


def _eject_refine(
    adj: list,
    strength: np.ndarray,
    tot_w: float,
    labels: np.ndarray,
    tol: float = 1e-12,
    max_rounds: int = 30,
) -> np.ndarray:
    """Fine-tune + pair-move refinement: escape the two local-optimum
    classes the hierarchical pass leaves behind.

    (1) FINE-TUNE (Rosvall's core-loop step the plain two-level pass
    lacks): after module aggregation only SUPER-nodes move, so one
    original node absorbed into the wrong module at level 1 can never
    relocate even when moving it alone would improve L. Each round
    therefore first re-runs single-node local moves on the ORIGINAL
    graph starting from the current partition (``init_module``).

    (2) PAIR-MOVE: greedy agglomeration over-merges path-like
    graphs — the optimum may carve a 2-node peripheral module (a
    leaf pair) out of a bigger one, but BOTH intermediate states
    (either node alone in a fresh module) are worse than staying, so
    single-node sweeps are stuck at every level (observed on the r9
    m3d differential: isomorphic 8-node ε-graphs recur across SFs and
    randomized trial order cracks them only by lottery). For every
    intra-module edge (i, j), score moving {i, j} TOGETHER into (a)
    a fresh module (the r9 pair-EJECT) and (b) every module the pair
    has flow into (r11: the symmetric twin — a 2-node module moving
    into a neighbor is a pairwise module MERGE, and a pair leaving a
    bigger module for a neighbor is a boundary reassignment no
    single-node sweep can reach when both intermediate states are
    worse). Apply the best strictly-improving destination greedily
    in ascending edge order.

    Rounds alternate (1) and (2) until neither improves.

    Cost: the fresh-module candidate scores in O(1) from a per-node
    own-module flow array ``w_own[i]`` (flow from i into its current
    module, built once per pass in O(sum deg) and patched locally
    after each applied move); neighbor-module candidates need the
    pair's per-module flow map, O(deg_i + deg_j) per edge, so a full
    pass is O(sum_i deg_i^2). Per-user ε-graphs are far below that
    mattering; as a deterministic guard the neighbor candidates are
    skipped for the pass when sum(deg^2) exceeds ``4e6`` edge-visits
    (a function of the graph alone, so results stay reproducible).
    Only accepts strictly improving moves, so monotone descent of L
    (the m3c ``descent_ok`` invariant) is preserved; moved pairs are
    connected, so modules keep refining components (the m3b
    invariant).
    """
    n = len(adj)
    labels = labels.astype(np.int64).copy()
    p = strength / tot_w
    ext = np.array([sum(d.values()) for d in adj], dtype=np.float64)
    deg2 = float(sum(len(d) ** 2 for d in adj))
    allow_neighbor_dest = deg2 <= 4e6
    for _ in range(max_rounds):
        # (1) fine-tune: single-node moves from the current partition
        before = labels
        labels = _mapeq_local_moves(
            adj, strength, tot_w, init_module=labels
        )
        # moves only ever change ids in place, so no-move == identical
        tuned = not np.array_equal(before, labels)
        # (2) pair-move pass
        # densify so fresh ids can be drawn from the unused tail < n
        _, labels = np.unique(labels, return_inverse=True)
        labels = labels.astype(np.int64)
        n_mod = int(labels.max()) + 1 if n else 0
        next_free = n_mod
        size = np.bincount(labels, minlength=n)
        P = np.zeros(n)
        np.add.at(P, labels, p)
        CUT = np.zeros(n)
        w_own = np.zeros(n)
        for i, d in enumerate(adj):
            mi = int(labels[i])
            for j, w in d.items():
                if mi == int(labels[j]):
                    w_own[i] += w
                else:
                    CUT[mi] += w
        Q = float(CUT.sum()) / tot_w
        ejected = False
        for i in range(n):
            for j, w_ij in sorted(adj[i].items()):
                if j <= i:
                    continue
                a = int(labels[i])
                if int(labels[j]) != a or size[a] < 2:
                    continue
                # move {i, j} out of a:
                # S = pair flow to remaining members of a;
                # out = pair flow to everything outside a
                S = (w_own[i] - w_ij) + (w_own[j] - w_ij)
                out = (ext[i] - w_own[i]) + (ext[j] - w_own[j])
                cut_a2 = CUT[a] - out + S
                q_a, q_a2 = CUT[a] / tot_w, cut_a2 / tot_w
                P_a2 = P[a] - p[i] - p[j]
                p_pair = p[i] + p[j]
                base_a = (
                    -2.0 * (_plogp(q_a2) - _plogp(q_a))
                    + _plogp(q_a2 + P_a2)
                    - _plogp(q_a + P[a])
                )
                # candidate destinations: fresh module (pair flow to
                # members = 0; only when the pair leaves something
                # behind, else it is a no-op relabel), plus every
                # module the pair has flow into
                w_pair_to: dict = {}
                if allow_neighbor_dest:
                    for k, w in adj[i].items():
                        if k != j:
                            m = int(labels[k])
                            if m != a:
                                w_pair_to[m] = w_pair_to.get(m, 0.0) + w
                    for k, w in adj[j].items():
                        if k != i:
                            m = int(labels[k])
                            if m != a:
                                w_pair_to[m] = w_pair_to.get(m, 0.0) + w
                best_delta, best_b = -tol, None
                cand: list = sorted(w_pair_to)
                if size[a] > 2:
                    cand.append(-1)  # fresh module sentinel
                for b in cand:
                    w_pb = 0.0 if b == -1 else w_pair_to[b]
                    cut_b = 0.0 if b == -1 else float(CUT[b])
                    P_b = 0.0 if b == -1 else float(P[b])
                    cut_b2 = cut_b + S + out - 2.0 * w_pb
                    q_b, q_b2 = cut_b / tot_w, cut_b2 / tot_w
                    P_b2 = P_b + p_pair
                    Q2 = Q + (
                        cut_a2 - CUT[a] + cut_b2 - cut_b
                    ) / tot_w
                    delta = (
                        _plogp(Q2)
                        - _plogp(Q)
                        + base_a
                        - 2.0 * (_plogp(q_b2) - _plogp(q_b))
                        + _plogp(q_b2 + P_b2)
                        - _plogp(q_b + P_b)
                    )
                    if delta < best_delta:
                        best_delta, best_b = delta, b
                if best_b is not None:
                    if best_b == -1:
                        b = next_free
                        next_free += 1
                        if b >= len(CUT):
                            # fresh ids can outrun n when a pass
                            # ejects a pair, merges it away, and
                            # repeats — grow the per-module arrays
                            # (ids are never reused within a pass)
                            grow = len(CUT)
                            CUT = np.concatenate([CUT, np.zeros(grow)])
                            P = np.concatenate([P, np.zeros(grow)])
                            size = np.concatenate(
                                [size, np.zeros(grow, dtype=size.dtype)]
                            )
                        w_pb = 0.0
                    else:
                        b = int(best_b)
                        w_pb = w_pair_to[b]
                    cut_b2 = CUT[b] + S + out - 2.0 * w_pb
                    Q += (cut_a2 - CUT[a] + cut_b2 - CUT[b]) / tot_w
                    CUT[a], CUT[b] = cut_a2, cut_b2
                    P[a] -= p_pair
                    P[b] += p_pair
                    size[a] -= 2
                    size[b] += 2
                    # patch w_own locally: only the pair and its
                    # neighbors change own-module flow (do it BEFORE
                    # relabeling so labels[k] still reads the old
                    # memberships of i's and j's neighbors)
                    w_own_i, w_own_j = w_ij, w_ij
                    for k, w in adj[i].items():
                        if k == j:
                            continue
                        mk = int(labels[k])
                        if mk == a:
                            w_own[k] -= w
                        elif mk == b:
                            w_own[k] += w
                            w_own_i += w
                    for k, w in adj[j].items():
                        if k == i:
                            continue
                        mk = int(labels[k])
                        if mk == a:
                            w_own[k] -= w
                        elif mk == b:
                            w_own[k] += w
                            w_own_j += w
                    w_own[i], w_own[j] = w_own_i, w_own_j
                    labels[i], labels[j] = b, b
                    ejected = True
        if not ejected and not tuned:
            break
        # densify before the next round's fine-tune: the grow branch
        # above can hand out fresh ids >= n within a pass (eject ->
        # merge-into-neighbor -> re-eject churn), but
        # _mapeq_local_moves allocates n-sized per-module arrays and
        # requires ids < n — feeding it a grown label would raise
        # IndexError. After densify at most n/2 fresh pairs exist, so
        # ids are < n again.
        if next_free > n:
            _, labels = np.unique(labels, return_inverse=True)
            labels = labels.astype(np.int64)
    return labels


def _canon_partition(lab: np.ndarray) -> np.ndarray:
    """First-occurrence canonical form: two labelings are the same
    partition iff their canonical forms are equal arrays."""
    out = np.empty(len(lab), dtype=np.int64)
    seen: dict = {}
    for i, x in enumerate(lab):
        x = int(x)
        if x not in seen:
            seen[x] = len(seen)
        out[i] = seen[x]
    return out


def _core_loop(
    adj: list,
    strength: np.ndarray,
    tot_w: float,
    rng: "np.random.RandomState | None" = None,
    max_cycles: int = 20,
) -> np.ndarray:
    """One full optimization cycle in the shape of Infomap's core
    loop: hierarchical coarsening, then alternating fine-grained
    (:func:`_eject_refine` — single-node fine-tune + pair moves on
    the ORIGINAL graph) and coarse-grained (re-aggregate the refined
    partition and let whole modules move/merge as super-nodes)
    passes until the partition is stable. Fine passes fix nodes the
    coarsening absorbed into the wrong module; coarse passes merge
    modules the fine passes fragmented (on structureless graphs the
    optimum can be ONE module, unreachable by single-node or pair
    moves out of a 3-way split). Every accepted move strictly
    decreases L, so the cycle terminates; ``max_cycles`` is a
    safety bound."""
    labels = _hierarchical_mapeq(adj, strength, tot_w, rng=rng)
    for _ in range(max_cycles):
        refined = _eject_refine(adj, strength, tot_w, labels)
        uniq, dense = np.unique(refined, return_inverse=True)
        if len(uniq) > 1:
            s_adj, s_strength = _aggregate(adj, strength, dense)
            super_lab = _hierarchical_mapeq(
                s_adj, s_strength, tot_w, rng=rng
            )
            new = super_lab[dense]
        else:
            new = refined
        # canonical first-occurrence form: stable ⇔ same partition
        stable = np.array_equal(
            _canon_partition(labels), _canon_partition(new)
        )
        labels = new
        if stable:
            break
    return labels


def two_level_infomap(
    n: int,
    edges: np.ndarray,
    weights: np.ndarray,
    num_trials: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic two-level Infomap: minimize the map equation by
    greedy local moves + module aggregation until stable (the public
    core algorithm of Rosvall & Bergstrom 2008 — same objective the
    reference optimizes through the ``infomap`` C library,
    reference utils.py:67-99; this is an independent numpy
    implementation, deterministic for any fixed ``(num_trials,
    seed)`` where the library's trial loop is only per-machine
    reproducible).

    Search strategy (the library's, made deterministic): trial 0
    sweeps nodes in fixed ascending order (keeping the pre-r10
    deterministic visit ORDER; results can differ from pre-r10
    wherever the r10 fine-tune/pair-move refinement improves the
    codelength — that refinement is the point); trials 1..k-1
    re-draw the visit order each pass from
    ``numpy.random.RandomState(seed + t)`` (stable cross-platform).
    The trial with the lowest map-equation value wins; ties keep the
    EARLIEST trial, so adding trials never changes an already-optimal
    result. Every trial additionally runs :func:`_eject_refine` —
    the deterministic pair-move pass (fresh-module eject or relocation
    into a neighboring module, r11) that escapes the local optima
    the r9 m3d differential exposed (2/150 sf0.01 uids where leaf
    pairs stayed absorbed in a bigger module; pair-move fixes the
    class structurally where extra trials only fix instances by
    lottery). Multi-trial remains as robustness against other
    order-dependent optima.

    ``edges`` is an (m, 2) int array (undirected, no self-loops,
    each pair once), ``weights`` an (m,) float array. Returns an
    (n,) int64 module label per node; labels are arbitrary ints,
    dense-ranked by callers.

    Fidelity vs the ``infomap`` C library (documented divergences —
    differential tests: tests/test_clustering.py::
    test_infomap_differential_vs_c_library, skipped when the package
    is absent, and the always-runnable vendored differential):

    - On graphs with a clear modular optimum (cliques joined by weak
      bridges — the golden fixtures) both find the same grouping.
    - On AMBIGUOUS graphs several partitions can tie on the map
      equation within float tolerance; the library breaks ties by RNG
      seed and trial count, this implementation by deterministic
      trial order. Module MEMBERSHIP may then legitimately differ;
      the contract is a codelength within tolerance, not identical
      labels.
    - On HARD instances (several near-tied local optima) best-of-k
      randomized search is a lottery for EVERY Infomap-family
      optimizer: measured EXHAUSTIVELY over the property test's
      10,001-graph seed domain (r11 scan), an 8-trial native search
      loses to the vendored 10-trial search on 38 graphs (0.38%,
      max gap 0.0855 bits/step) and the reverse also happens (seed
      755: native ≥32 trials beats vendored-10 by 0.0135). "Never
      loses" is NOT a theorem at any fixed trial count — Hypothesis
      falsified the r10 claim at seed 9394. The honest contract,
      asserted by the m3d gate and tests/test_clustering.py's
      bounded-regret property: after ONE escalation re-run at 128
      trials on a losing graph, the native codelength is within
      0.05 bits/step of the vendored search — empirically ZERO
      residual losses over the ENTIRE property domain (a 64-trial
      escalation left one 0.031 survivor, seed 8510, closed at
      128; BASELINE.md).
    - The library's default teleportation (unrecorded, PageRank-style
      with tau=0.15 on directed input) does not apply here: input is
      undirected, where visit rates are degree-proportional and
      teleportation drops out of the two-level map equation.
    """
    num_trials = _trials(num_trials)
    labels = np.arange(n, dtype=np.int64)
    if n == 0 or len(edges) == 0:
        return labels
    adj: list = [dict() for _ in range(n)]
    for (i, j), w in zip(edges, weights):
        i, j, w = int(i), int(j), float(w)
        adj[i][j] = adj[i].get(j, 0.0) + w
        adj[j][i] = adj[j].get(i, 0.0) + w
    strength = np.array([sum(d.values()) for d in adj], dtype=np.float64)
    tot_w = float(strength.sum())  # constant across levels
    if tot_w <= 0.0:
        return labels

    # Adaptive search depth: total local-move work is O(trials ·
    # passes · m). Per-user mobility graphs are tiny (hundreds of
    # nodes, full budget), but the 20k-node guard still admits dense
    # ε-balls with 10^5-10^6 edges where multiplying the sweep by
    # num_trials would turn seconds into minutes of per-group Python.
    # Past ~200k edges the trial count decays to keep trials·m
    # bounded (~1.6M edge-visits per pass) — a function of the graph
    # alone, so results stay deterministic; trial 0 (the
    # deterministic base order + fine-tune/eject refinement, which
    # carries most of the quality) always runs.
    eff_trials = max(
        1, min(num_trials, 1_600_000 // max(len(edges), 1))
    )
    best, best_len = None, 0.0
    for t in range(eff_trials):
        rng = None if t == 0 else np.random.RandomState(int(seed) + t)
        cand = _core_loop(adj, strength, tot_w, rng=rng)
        val = map_equation_value(n, edges, weights, cand)
        if best is None or val < best_len - 1e-12:
            best, best_len = cand, val
    # Structureless graphs: the optimum can be ONE module per
    # connected component, unreachable by greedy search when no
    # PAIRWISE module merge improves (only the k-way collapse does).
    # The component partition is a single O(m) candidate — score it
    # like a trial; keep it only when strictly better.
    comp = _components(n, edges)
    val = map_equation_value(n, edges, weights, comp)
    if val < best_len - 1e-12:
        best, best_len = comp, val
    return best


def map_equation_value(
    n: int,
    edges: np.ndarray,
    weights: np.ndarray,
    modules: np.ndarray,
) -> float:
    """Two-level map equation L(M) of a given partition (Rosvall &
    Bergstrom 2008, eq. 3; undirected flow): the description length in
    bits per step of a random walk under partition ``modules``. Used
    by the m3c invariant gate and the Infomap golden tests to compare
    partitions on equal terms — lower is better.

    Conventions match ``_mapeq_local_moves``: p_a = strength_a /
    tot_w with tot_w = 2·(total edge weight); q_m = (weight of edges
    leaving module m) / tot_w. Zero-strength nodes (no incident
    edges) contribute nothing regardless of their module.
    """
    strength = np.zeros(n, dtype=np.float64)
    for (i, j), w in zip(edges, weights):
        strength[int(i)] += float(w)
        strength[int(j)] += float(w)
    tot_w = float(strength.sum())
    if tot_w <= 0.0:
        return 0.0
    p = strength / tot_w
    cut: dict = {}
    for (i, j), w in zip(edges, weights):
        mi, mj = int(modules[int(i)]), int(modules[int(j)])
        if mi != mj:
            cut[mi] = cut.get(mi, 0.0) + float(w)
            cut[mj] = cut.get(mj, 0.0) + float(w)
    P: dict = {}
    for a in range(n):
        if strength[a] > 0.0:
            m = int(modules[a])
            P[m] = P.get(m, 0.0) + p[a]
    Q = sum(cut.values()) / tot_w
    L = _plogp(Q) - sum(_plogp(x) for x in p)
    for m, Pm in P.items():
        q_m = cut.get(m, 0.0) / tot_w
        L += -2.0 * _plogp(q_m) + _plogp(q_m + Pm)
    return float(L)


def infomap_backend_available() -> bool:
    """True when the public ``infomap`` package (the C library the
    reference drives, reference utils.py:67-99) is importable. The
    library is an OPTIONAL backend: everything in this module runs on
    the native deterministic optimizer without it."""
    try:
        import infomap  # noqa: F401
    except Exception:
        return False
    return True


def _infomap_library_modules(
    n: int,
    edges: np.ndarray,
    weights: np.ndarray,
    num_trials: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Module labels from the public ``infomap`` package — the SAME
    backend the reference wires through its ``compute_infomap``
    (reference utils.py:67-99), exposed here for label-parity
    differential testing against :func:`two_level_infomap`. Pinned
    ``seed`` + ``num_trials`` make the library's RNG-based trial loop
    reproducible on a machine; cross-machine label stability is NOT
    guaranteed by the library, which is why the hash-checked gates
    certify the native optimizer and this backend is differential /
    rows-only. Nodes the library never saw (isolated) keep a unique
    own-label, matching :func:`two_level_infomap`'s contract."""
    from infomap import Infomap

    labels = np.arange(n, dtype=np.int64)
    if n == 0 or len(edges) == 0:
        return labels
    im = Infomap(
        silent=True,
        two_level=True,
        num_trials=int(num_trials),
        seed=int(seed),
        flow_model="undirected",
    )
    for (i, j), w in zip(edges, weights):
        im.add_link(int(i), int(j), float(w))
    im.run()
    # offset module ids past n so they never collide with the
    # own-label ids of isolated nodes
    for node_id, module_id in im.get_modules().items():
        labels[int(node_id)] = int(module_id) + n
    return labels


def _user_eps_graph(
    pdf: pd.DataFrame,
    eps: float,
    metric: str,
    weighted: bool = False,
    w_exp: float = 1.0,
):
    """Shared per-user ε-graph construction of the Infomap paths, over
    one user's nodes as ``_per_user_map`` hands them over (sorted).
    :func:`cluster_communities` and its m3c certification
    (:func:`community_invariants`) MUST build bit-identical graphs —
    a drift between them would make the certification gate check a
    different graph than production computes — so both call this one
    helper. Returns ``(edges (m,2), weights, connected mask)``; edge
    weight is max(count_a, count_b), times d^-w_exp when ``weighted``
    (reference utils.py:110-121).
    """
    lat = pdf["latitude"].to_numpy()
    lon = pdf["longitude"].to_numpy()
    counts = pdf["n_members"].to_numpy()
    n = len(pdf)
    dist = _distance_matrix(lat, lon, metric)
    iu, ju = np.triu_indices(n, k=1)
    near = dist[iu, ju] <= eps
    ei, ej, ed = iu[near], ju[near], dist[iu, ju][near]
    w = np.maximum(counts[ei], counts[ej]).astype(np.float64)
    if weighted:
        w = w * np.power(np.maximum(ed, 1e-9), -w_exp)
    connected = np.zeros(n, dtype=bool)
    connected[ei] = True
    connected[ej] = True
    return np.column_stack([ei, ej]), w, connected


def _dense_module_labels(
    n: int, modules: np.ndarray, connected: np.ndarray
) -> np.ndarray:
    """-1 for ε-singletons; connected nodes' modules densified to
    0..k-1 in scan order of first member (the DBSCAN paths' label
    contract)."""
    labels = np.full(n, -1, dtype=np.int64)
    order: dict = {}
    for i in range(n):
        if connected[i]:
            m = int(modules[i])
            if m not in order:
                order[m] = len(order)
            labels[i] = order[m]
    return labels


def community_invariants(
    medians: DataFrame,
    r2: float = 10.0,
    min_spacial_resolution: float = 0.0,
    distance_metric: str = "haversine",
) -> DataFrame:
    """Hash-checkable certification of the Infomap community path: per
    uid, the SQL-twinnable graph statistics (node / singleton /
    component counts of the ε-graph — a DuckDB recursive CTE computes
    the same numbers) plus booleans certifying properties of the
    ACTUAL ``two_level_infomap`` output that no SQL engine can
    reproduce directly:

    - ``descent_ok``: L(found partition) <= L(all-singletons) — the
      optimizer starts from singletons and only takes improving
      moves, so this holds by construction; a regression breaking
      monotone descent flips it.
    - ``bounds_ok``: n_components <= n_modules <= n_connected_nodes
      (modules refine components and never split below 1 node).
    - ``dense_ok``: non-noise labels are exactly 0..k-1 and noise
      (-1) appears exactly on the ε-singleton nodes.

    Same node table, graph construction and size guard as
    :func:`cluster_communities`.
    """
    eps = float(r2)
    metric = _metric(distance_metric)

    def _certify(pdf: pd.DataFrame) -> pd.DataFrame:
        edges, w, connected = _user_eps_graph(pdf, eps, metric)
        n = len(pdf)
        n_connected = int(connected.sum())
        n_components = len(set(_components(n, edges)[connected].tolist()))

        labels = np.full(n, -1, dtype=np.int64)
        descent_ok = True
        if n_connected:
            modules = two_level_infomap(n, edges, w)
            labels = _dense_module_labels(n, modules, connected)
            L_found = map_equation_value(n, edges, w, modules)
            L_single = map_equation_value(
                n, edges, w, np.arange(n, dtype=np.int64)
            )
            descent_ok = bool(L_found <= L_single + 1e-9)
        n_modules = int(labels.max() + 1) if n_connected else 0
        bounds_ok = bool(n_components <= n_modules <= n_connected)
        dense_ok = bool(
            set(labels[connected].tolist()) == set(range(n_modules))
            and (labels[~connected] == -1).all()
        )
        return pd.DataFrame(
            {
                "uid": [pdf["uid"].iloc[0]],
                "n_nodes": [n],
                "n_singletons": [n - n_connected],
                "n_components": [n_components],
                "descent_ok": [descent_ok],
                "bounds_ok": [bounds_ok],
                "dense_ok": [dense_ok],
            }
        )

    return _per_user_map(
        _node_table(medians, min_spacial_resolution),
        _certify,
        StructField("n_nodes", LongType()),
        StructField("n_singletons", LongType()),
        StructField("n_components", LongType()),
        StructField("descent_ok", BooleanType()),
        StructField("bounds_ok", BooleanType()),
        StructField("dense_ok", BooleanType()),
    )


def cluster_communities(
    medians: DataFrame,
    r2: float = 10.0,
    min_spacial_resolution: float = 0.0,
    label_singleton: bool = False,
    weighted: bool = False,
    weight_exponent: float = 1.0,
    distance_metric: str = "haversine",
    backend: str = "native",
    num_trials: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Infomap community detection over the per-user ε-graph of stop
    medians — the engine's counterpart of the reference's
    ``compute_infomap`` (reference models.py:179-204, utils.py:67-134).

    ``backend='native'`` (default) optimizes the map equation with the
    deterministic in-repo optimizer; ``backend='infomap'`` runs the
    public ``infomap`` C library inside the same Arrow grouped-map —
    label parity with a reference deployment at the cost of the
    library's RNG-seeded trial loop (reproducible per machine via the
    pinned seed, not certified cross-machine — the hash gates stay on
    the native path). Raises ImportError up front when the library
    backend is requested but the package is not installed.
    ``num_trials``/``seed`` drive the search depth of BOTH backends
    (the native optimizer's seeded multi-trial loop and the library's
    trial loop — same knob the reference exposes through the C API).

    Graph construction mirrors the reference: nodes are the unique
    (optionally grid-downsampled) coordinates of one user, edges
    connect pairs within ``r2`` meters, and the edge weight is
    ``max(count_a, count_b)`` — the visit multiplicity of the busier
    endpoint (reference utils.py:110-121) — times ``d^-weight_exponent``
    when ``weighted`` (distance in meters, utils.py:115-117). Nodes
    with no ε-neighbor are singletons: label -1, or their own labels
    after the real modules when ``label_singleton`` (utils.py:124-134).

    Modules come from a deterministic two-level map-equation
    optimization (``two_level_infomap``) — a real Infomap, not a
    connected-components approximation: a dumbbell graph (two dense
    blobs joined by one weak edge) is split into two modules where CC
    would merge it (tests/test_clustering.py exercises exactly that).
    Runs per uid as an Arrow grouped-map with the same O(n²) matrix
    guard as the DBSCAN path; per-user unique stop coordinates are
    bounded small.
    """
    eps = float(r2)
    w_exp = float(weight_exponent)
    use_weights = bool(weighted)
    singles_own_label = bool(label_singleton)
    metric = _metric(distance_metric)
    if backend not in ("native", "infomap"):
        raise ValueError(
            f"unknown backend {backend!r}: use 'native' or 'infomap'"
        )
    use_library = backend == "infomap"
    if use_library and not infomap_backend_available():
        raise ImportError(
            "backend='infomap' needs the public `infomap` package "
            "(pip install infomap); the default backend='native' has "
            "no extra dependency"
        )
    trials, sd = _trials(num_trials), int(seed)

    def _communities(pdf: pd.DataFrame) -> np.ndarray:
        edges, w, connected = _user_eps_graph(
            pdf, eps, metric, weighted=use_weights, w_exp=w_exp
        )
        n = len(pdf)
        labels = np.full(n, -1, dtype=np.int64)
        if connected.any():
            if use_library:
                modules = _infomap_library_modules(
                    n, edges, w, trials, sd
                )
            else:
                modules = two_level_infomap(
                    n, edges, w, num_trials=trials, seed=sd
                )
            labels = _dense_module_labels(n, modules, connected)
        if singles_own_label:
            nxt = labels.max() + 1
            for i in range(n):
                if not connected[i]:
                    labels[i] = nxt
                    nxt += 1
        return labels

    return _label_nodes(
        medians, min_spacial_resolution, "stop_labels", _communities
    )


def _vendored_reference_modules(
    n: int,
    edges: np.ndarray,
    weights: np.ndarray,
    num_trials: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Module labels from the vendored pure-Python Rosvall-Bergstrom
    two-level implementation (polaroam_spark/vendor/
    rosvall_infomap.py) — an independent re-derivation of the SAME
    published algorithm the ``infomap`` C library optimizes, with the
    library's search strategy (seeded multi-trial, randomized sweep
    order). The always-runnable differential target for environments
    where the C library cannot be installed."""
    from polaroam_spark.vendor.rosvall_infomap import infomap as _vmap

    return np.asarray(
        _vmap(
            n,
            [(int(i), int(j)) for i, j in edges],
            [float(x) for x in weights],
            num_trials=int(num_trials),
            seed=int(seed),
        ),
        dtype=np.int64,
    )


def communities_backend_differential(
    medians: DataFrame,
    r2: float = 10.0,
    min_spacial_resolution: float = 0.0,
    distance_metric: str = "haversine",
    num_trials: int = 10,
    seed: int = 42,
    target: str = "auto",
    escalate_trials: int = 128,
    tol_bits: float = 0.05,
) -> DataFrame:
    """Per-uid differential between the native map-equation optimizer
    and an INDEPENDENT Infomap implementation on the SAME ε-graph —
    the m3d gate (reference utils.py:67-99 runs the ``infomap`` C
    library; this certifies the in-repo optimizer against an
    independent optimizer of the same objective). ``target`` picks
    the reference implementation:

    - ``'library'`` — the public ``infomap`` C library (raises
      ImportError when absent);
    - ``'vendored'`` — the vendored pure-Python Rosvall-Bergstrom
      two-level implementation (always runnable; written against the
      paper, shares no code with the production optimizer);
    - ``'auto'`` (default) — the library when installed, else the
      vendored implementation.

    One Arrow grouped-map runs both optimizers and scores both
    partitions with :func:`map_equation_value`; output per uid:

    - ``same_partition`` — dense-canonical labels identical (dense
      ranking is scan-order canonical, so label equality ⟺ partition
      equality);
    - ``native_not_worse`` — native codelength ≤ reference codelength
      + 1e-9 AFTER escalation (see below; on map-equation TIES an
      RNG-driven reference may pick a different member of the tie
      set — see :func:`two_level_infomap`'s fidelity notes). This
      column is informational, NOT a theorem: best-of-k randomized
      search is a lottery on hard instances for both optimizers
      (Hypothesis seed 9394 falsified the r10 "never loses" claim),
      so the m3d gate does not hash it;
    - ``native_within_tol`` — native codelength ≤ reference
      codelength + ``tol_bits`` after escalation. THIS is the
      certified bounded-regret contract the m3d gate pins TRUE.
      r11 measurement, EXHAUSTIVE over the property test's entire
      seed domain (all 10,001 graphs): 38 base-budget losses
      (0.38%, max 0.0855 bits/step); a 64-trial escalation left ONE
      survivor (seed 8510, 0.031 — native per-trial optimum hit
      rate 3/128 vs vendored 11/128, pure sweep-dynamics luck); the
      shipped 128-trial escalation leaves ZERO residual losses over
      the whole domain (BASELINE.md). ``tol_bits=0.05`` (~1.4%
      relative on these ~3.5-bit codelengths) is the second,
      independent guard for graph populations outside that domain —
      far below a systematic-faithfulness failure, which the m3c
      descent invariants also catch separately;
    - ``codelength_margin`` — native − reference codelength
      (bits/step) after escalation: positive means the reference
      found a strictly better partition, so a FALSE boolean carries
      its own severity (a sub-tolerance search-depth gap reads
      differently from a large regression without recomputing);
    - ``escalated`` — TRUE when the base-budget native search lost
      by more than 1e-9 and the escalation re-run happened;
    - both codelengths (bits/step) and the ``target`` that ran.

    ESCALATION: the native optimizer first runs at its default
    budget (``two_level_infomap(num_trials=8)``); iff it loses to
    the reference by more than 1e-9, it re-runs once at
    ``escalate_trials`` (default 128) and the better of the two
    native partitions is scored. On dense graphs
    :func:`two_level_infomap`'s edge-budget decay caps the effective
    trial count (1.6M edge-visits per pass), so escalation stays
    bounded — a deterministic function of the graph, like the base
    run. Deterministic (both runs are
    seeded), and documents that observed losses are trial-lottery
    artifacts, not systematic optimizer gaps; a loss that SURVIVES
    escalation beyond ``tol_bits`` is exactly the signal that should
    flip the gate red.
    """
    if target not in ("auto", "library", "vendored"):
        raise ValueError(
            f"unknown target {target!r}: use 'auto', 'library' or "
            "'vendored'"
        )
    if target == "library" and not infomap_backend_available():
        raise ImportError(
            "communities_backend_differential(target='library') needs "
            "the public `infomap` package (pip install infomap); "
            "target='vendored' runs without it"
        )
    if target == "auto":
        target = (
            "library" if infomap_backend_available() else "vendored"
        )
    eps = float(r2)
    metric = _metric(distance_metric)
    trials, sd = _trials(num_trials), int(seed)
    esc = int(escalate_trials)
    if esc < 1:
        raise ValueError(
            f"escalate_trials must be >= 1 (got {escalate_trials})"
        )
    tol = float(tol_bits)
    if tol < 0.0:
        raise ValueError(f"tol_bits must be >= 0 (got {tol_bits})")
    use_library = target == "library"

    def _diff(pdf: pd.DataFrame) -> pd.DataFrame:
        edges, w, connected = _user_eps_graph(pdf, eps, metric)
        n = len(pdf)
        same, not_worse, escalated = True, True, False
        l_nat, l_ref = 0.0, 0.0
        if connected.any() and len(edges):
            m_nat = two_level_infomap(n, edges, w)
            if use_library:
                m_ref = _infomap_library_modules(n, edges, w, trials, sd)
            else:
                m_ref = _vendored_reference_modules(
                    n, edges, w, trials, sd
                )
            l_nat = map_equation_value(n, edges, w, m_nat)
            l_ref = map_equation_value(n, edges, w, m_ref)
            if l_nat > l_ref + 1e-9:
                # lottery loss at base budget: one deterministic
                # escalation re-run, keep the better native partition
                escalated = True
                m_esc = two_level_infomap(n, edges, w, num_trials=esc)
                l_esc = map_equation_value(n, edges, w, m_esc)
                if l_esc < l_nat:
                    m_nat, l_nat = m_esc, l_esc
            same = bool(
                (
                    _dense_module_labels(n, m_nat, connected)
                    == _dense_module_labels(n, m_ref, connected)
                ).all()
            )
            not_worse = bool(l_nat <= l_ref + 1e-9)
        return pd.DataFrame(
            {
                "uid": [pdf["uid"].iloc[0]],
                "n_nodes": [n],
                "same_partition": [same],
                "native_not_worse": [not_worse],
                "native_within_tol": [bool(l_nat <= l_ref + tol)],
                "escalated": [escalated],
                "codelength_native": [l_nat],
                "codelength_reference": [l_ref],
                "codelength_margin": [l_nat - l_ref],
                "target": [target],
            }
        )

    return _per_user_map(
        _node_table(medians, min_spacial_resolution),
        _diff,
        StructField("n_nodes", LongType()),
        StructField("same_partition", BooleanType()),
        StructField("native_not_worse", BooleanType()),
        StructField("native_within_tol", BooleanType()),
        StructField("escalated", BooleanType()),
        StructField("codelength_native", DoubleType()),
        StructField("codelength_reference", DoubleType()),
        StructField("codelength_margin", DoubleType()),
        StructField("target", StringType()),
    )
