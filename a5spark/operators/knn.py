"""k-nearest-neighbor and radius joins via A5 cap-cover candidate expansion.

Both joins share one candidate generator (`_cap_candidates`): each query
cell's spherical-cap cover (reference traversal/cap.py:66-129) is computed at
a coarse cover resolution chosen from the cap radius, uncompacted, and
equi-joined against the point table through a JVM-side parent expression —
never a theta/range join, so Catalyst plans hash joins throughout.

Scale design (100 TB):
  * the cover relation is (query) x (cap cells of its cover parent). A
    small fleet (`_fleet_cap`: MAX_COLLECT_VECTORS / max_cells queries over
    the core count) is collected once and its cover planned on the driver:
    the relation is a local Arrow frame broadcast explicitly, so the point
    table is scanned once, map-side, with no shuffle and no Python stage. A
    larger fleet keeps the distributed plan: the cover comes from the
    `a5_cap_cover` UDF over the distinct query parents and AQE picks
    broadcast-hash or shuffle joins by size; a kNN fleet moves to the
    driver plan once its residual fits;
  * the cover resolution adapts to the radius (bounded cells-per-cap), so a
    continent-sized radius costs a few hundred coarse cells, not millions of
    fine ones;
  * `knn_join` is exact: it iterates cap radii (geometric growth, final round
    covers the sphere) and a query is only emitted once >= k candidates lie
    within the round's PROVEN-complete radius — the reference's grid-disk
    guarantee model (traversal/grid_disk.py:51-70) made distributed.
"""

import inspect
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from a5spark import cache
from a5spark.functions import native
from a5spark.functions.udfs import haversine_m
from a5spark.operators import util

# half the sphere's great-circle circumference: a cap of this radius covers
# every cell, making the final kNN round complete by construction
_EARTH_COVER_M = math.pi * 6371007.2


def _grid_disk_series(cell: pd.Series, k: pd.Series, edge_only: bool) -> pd.Series:
    from a5spark.kernels.serialization import from_signed, to_signed
    from a5spark.kernels.traversal import grid_disk_batch

    cells = from_signed(cell.to_numpy(np.int64))
    kv = k.to_numpy()
    out = [None] * len(cells)
    for kk in np.unique(kv):
        idx = np.where(kv == kk)[0]
        rows, disk = grid_disk_batch(
            cells[idx], int(kk), edge_only=edge_only, do_compact=False
        )
        signed = to_signed(disk)
        bounds = np.searchsorted(rows, np.arange(len(idx) + 1))
        for j in range(len(idx)):
            out[idx[j]] = signed[bounds[j] : bounds[j + 1]].tolist()
    return pd.Series(out)


@F.pandas_udf(ArrayType(LongType()))
def a5_grid_disk(cell: pd.Series, k: pd.Series) -> pd.Series:
    """Disk of cells within k EDGE-hops of each input cell (uncompacted) —
    reference a5/traversal/grid_disk.py grid_disk."""
    return _grid_disk_series(cell, k, edge_only=True)


@F.pandas_udf(ArrayType(LongType()))
def a5_grid_disk_vertex(cell: pd.Series, k: pd.Series) -> pd.Series:
    """Disk of cells within k VERTEX-hops (corner adjacency included) of each
    input cell — reference a5/traversal/grid_disk.py grid_disk_vertex; a
    superset of the edge disk at the same k."""
    return _grid_disk_series(cell, k, edge_only=False)


@F.pandas_udf(ArrayType(LongType()))
def a5_spherical_cap(cell: pd.Series, radius_m: pd.Series) -> pd.Series:
    """Cells within a great-circle radius of each cell's center (compacted)."""
    from a5spark.kernels.serialization import from_signed, get_resolution, to_signed
    from a5spark.kernels.traversal import spherical_cap_batch

    cells = from_signed(cell.to_numpy(np.int64))
    res = get_resolution(cells)
    rv = radius_m.to_numpy(np.float64)
    out = [None] * len(cells)
    for r in np.unique(rv):
        for rr in np.unique(res[rv == r]):
            idx = np.where((rv == r) & (res == rr))[0]
            rows, cap = spherical_cap_batch(cells[idx], float(r))
            signed = to_signed(cap)
            bounds = np.searchsorted(rows, np.arange(len(idx) + 1))
            for j in range(len(idx)):
                out[idx[j]] = signed[bounds[j] : bounds[j + 1]].tolist()
    return pd.Series(out)


def _cap_cover(cells: np.ndarray, radius_m: np.ndarray):
    """Uncompacted cap cover of each uint64 cell at its OWN resolution — the
    equi-join expansion form (cap -> uncompact) — as (row, cover cell)
    arrays sorted by row. Mixed-resolution input groups by (radius,
    resolution) so every row uncompacts to its own level. The one cover
    implementation: the executor UDF and the driver-planned cover both
    call it."""
    from a5spark.kernels.cell_info import get_num_children
    from a5spark.kernels.compact import uncompact
    from a5spark.kernels.serialization import get_resolution
    from a5spark.kernels.traversal import spherical_cap_batch

    res = get_resolution(cells)
    out_r, out_c = [np.empty(0, np.int64)], [np.empty(0, np.uint64)]
    for r in np.unique(radius_m):
        for rr in np.unique(res[radius_m == r]):
            idx = np.where((radius_m == r) & (res == rr))[0]
            rows, cap = spherical_cap_batch(cells[idx], float(r))
            # uncompact keeps input order, each cell's children together
            cap_res = get_resolution(cap)
            width = np.ones(len(cap), np.int64)
            for cr in np.unique(cap_res):
                width[cap_res == cr] = get_num_children(int(cr), int(rr))
            out_r.append(idx[np.repeat(rows, width)])
            out_c.append(uncompact(cap, int(rr)))
    row = np.concatenate(out_r)
    order = np.argsort(row, kind="stable")
    return row[order], np.concatenate(out_c)[order]


@F.pandas_udf(ArrayType(LongType()))
def a5_cap_cover(cell: pd.Series, radius_m: pd.Series) -> pd.Series:
    """Uncompacted cap cover at each input cell's own resolution (_cap_cover)."""
    from a5spark.kernels.serialization import from_signed, to_signed

    row, cover = _cap_cover(from_signed(cell.to_numpy(np.int64)), radius_m.to_numpy(np.float64))
    bounds = np.searchsorted(row, np.arange(len(cell) + 1))
    signed = to_signed(cover)
    return pd.Series([signed[bounds[j] : bounds[j + 1]].tolist() for j in range(len(cell))])


def pick_index_resolution(n_points: int, k: int, max_res: int = 15) -> int:
    """Density-adaptive INDEX resolution for knn_join: the finest res in
    [2, max_res] whose cell radius stays >= r_k/4, where
    r_k = 4R*sqrt(k/n) is the density radius (the cap expected to hold
    ~4k neighbors).

    Why this shape: round-1 candidate volume scales with
    (max(r_k, cell_rad) + cell_rad + 2*cov_rad)^2 * density — the index
    cell radius enters BOTH as the round-1 floor and as the cap
    accounting's additive margin. Too coarse (cell_rad >> r_k) floors the
    radius far above r_k; too fine buys nothing once the margin is small
    but grows the per-query cover join. cell_rad ~ r_k/4..r_k keeps the
    margin a small multiple of r_k; at 150k points / k=5 this reproduces
    exactly the hand-tuned res 7 the registry query shipped with.

    Why it matters at scale (measured, sf10 point in BASELINE.md round 6):
    a FIXED index res over-admits as density grows — res 7 at 15M points
    floors the cap at 51 km where ~15 km holds 4k neighbors, ~13x the
    candidate rows per query vs the adaptive res 10. Same scale rule as
    bucketed-join key resolution: spatial key granularity must track
    density."""
    from a5spark.kernels.constants import AUTHALIC_RADIUS_EARTH
    from a5spark.kernels.traversal import estimate_cell_radius

    r_k = 4.0 * AUTHALIC_RADIUS_EARTH * math.sqrt(
        max(k, 1) / float(max(n_points, 1))
    )
    res = 2
    for r in range(2, max_res + 1):
        if estimate_cell_radius(r) >= r_k / 4.0:
            res = r
        else:
            break
    return res


def pick_cover_resolution(radius_m: float, index_resolution: int, max_cells: int = 128) -> int:
    """Coarsest resolution in [2, index_resolution] whose cells keep the
    expected cap cover under `max_cells` — bounds cover size for any radius.

    max_cells trades cover-kernel work against candidate volume: the cap
    accounting widens the verified radius by ~2*cell_rad(cov_res) =
    ~4r/sqrt(max_cells) (safety factor included), so 128 admits a bounded
    ~1.8x candidate area versus ~1.4x at the former 512 while cutting the
    per-query cover (cap BFS cells + cover join rows) ~4x — measured ~15%
    off radius_join/knn_images wall at sf0.1 with results exactly unchanged
    (the final haversine filter is what decides membership at any
    setting)."""
    from a5spark.kernels.cell_info import cell_area
    from a5spark.kernels.constants import AUTHALIC_RADIUS_EARTH

    cap_area = (
        2.0 * math.pi * AUTHALIC_RADIUS_EARTH**2
        * (1.0 - math.cos(min(radius_m, _EARTH_COVER_M) / AUTHALIC_RADIUS_EARTH))
    )
    for res in range(2, index_resolution + 1):
        if cap_area / float(cell_area(res)) > max_cells:
            return max(2, res - 1) if res > 2 else 2
    return index_resolution


def _fleet_cap(spark) -> int:
    """Largest query fleet whose cover the driver plans. At
    pick_cover_resolution's max_cells cover cells per query, a fleet of
    MAX_COLLECT_VECTORS / max_cells queries makes a broadcast relation of
    about MAX_COLLECT_VECTORS rows; the cap is that fleet's per-core share,
    because the driver runs the cover kernel on one core where the UDF
    fallback spreads it over all of them. Measured on 4 cores at sf0.1 (a
    cap of 390): 94 queries ran faster planned on the driver, 188-375 about
    even, 750 and 1,500 slower."""
    max_cells = inspect.signature(pick_cover_resolution).parameters["max_cells"].default
    return util.MAX_COLLECT_VECTORS // max_cells // spark.sparkContext.defaultParallelism


def _collect_fleet(queries: DataFrame, query_id: str, cell: str):
    """The query fleet (query_id, q_lon, q_lat, <cell>) as a driver pandas
    frame, or None over _fleet_cap. Rows with a NULL cell are dropped here,
    as the cover join drops them, and so never reach pandas as floats."""
    return util.bounded_collect(
        queries.filter(F.col(cell).isNotNull()),
        [query_id, "q_lon", "q_lat", cell],
        _fleet_cap(queries.sparkSession),
    )


def _driver_covers(
    queries: DataFrame,
    fleet: pd.DataFrame,
    cap_radius: float,
    resolution: int,
    cov_res: int,
    query_id: str,
    cell: str,
) -> DataFrame:
    """The (query_id, q_lon, q_lat, __cov) relation of a collected fleet,
    built on the driver as a local Arrow frame: each distinct cov_res parent
    is covered once by _cap_cover, then every query row repeats its parent's
    cover. Column types follow `queries`."""
    import pyarrow as pa

    from a5spark.kernels.serialization import cell_to_parent, from_signed, to_signed

    cells = from_signed(fleet[cell].to_numpy(np.int64))
    if cov_res != resolution:
        cells = cell_to_parent(cells, cov_res)
    parents, inv = np.unique(cells, return_inverse=True)
    row, flat = _cap_cover(parents, np.full(len(parents), float(cap_radius)))
    n_cov = np.bincount(row, minlength=len(parents))
    starts = np.cumsum(n_cov) - n_cov
    per_q = n_cov[inv]
    q_idx = np.repeat(np.arange(len(fleet)), per_q)
    # each query's rows are its parent's whole cover: the parent's start in
    # `flat` plus the row's offset within the query's run
    offset = np.arange(per_q.sum()) - np.repeat(np.cumsum(per_q) - per_q, per_q)
    pos = np.repeat(starts[inv], per_q) + offset
    table = pa.table({
        query_id: pa.array(fleet[query_id]).take(q_idx),
        "q_lon": fleet["q_lon"].to_numpy()[q_idx],
        "q_lat": fleet["q_lat"].to_numpy()[q_idx],
        "__cov": to_signed(flat[pos]),
    })
    schema = StructType(
        [queries.schema[c] for c in (query_id, "q_lon", "q_lat")]
        + [StructField("__cov", LongType())]
    )
    return queries.sparkSession.createDataFrame(table, schema=schema)


def _cap_candidates(
    queries: DataFrame,
    points: DataFrame,
    cap_radius: float,
    resolution: int,
    cov_res: int,
    query_id: str,
    cell: str,
    fleet: pd.DataFrame | None,
) -> DataFrame:
    """Point rows joined to every query whose cap (radius `cap_radius`,
    centered on the query cell's cov_res parent center) covers the point's
    cov_res parent cell.

    `queries` must carry (query_id, q_lon, q_lat, <cell>). `fleet`, when
    given, is its driver copy from _collect_fleet (the rows still to answer):
    the driver plans the cover and broadcasts the (query, cover cell)
    relation, so the points are scanned once, map-side, with no shuffle and
    no Python stage. Without it (a fleet over _fleet_cap) the cover comes
    from the a5_cap_cover UDF on the executors and both joins are
    AQE-planned: points x covers (on the cover cell), then candidates x
    queries (on the query parent)."""

    def parent_at(col):
        if cov_res == resolution:
            return col
        return native.cell_to_parent(col, cov_res)

    pts = points.withColumn("__cov", parent_at(F.col(cell)))
    if fleet is not None:
        covers = _driver_covers(queries, fleet, cap_radius, resolution, cov_res, query_id, cell)
        return pts.join(F.broadcast(covers), "__cov").drop("__cov")

    par = queries.sparkSession.sparkContext.defaultParallelism
    q = queries.select(
        F.col(query_id),
        F.col("q_lon"),
        F.col("q_lat"),
        parent_at(F.col(cell)).alias("__qp"),
    )
    covers = (
        q.select("__qp")
        .distinct()
        .repartition(par)  # spread the cap BFS across cores
        .select(
            "__qp",
            F.explode(a5_cap_cover(F.col("__qp"), F.lit(float(cap_radius)))).alias("__cov"),
        )
    )
    return (
        pts.join(covers, "__cov")
        .join(q, "__qp")
        .drop("__cov", "__qp")
    )


def radius_join(
    queries: DataFrame,
    points: DataFrame,
    radius_m: float,
    query_id: str = "query_id",
    cell: str = "cell",
    resolution: int | None = None,
    cover_resolution: int | None = None,
) -> DataFrame:
    """All points within radius_m of each query point, exactly.

    Completeness accounting: the cap is centered on the query cell's cov_res
    PARENT center and keeps cov_res cells by THEIR center, so the cover radius
    expands by (query-point offset within its cell) + (query cell center to
    parent center) + (candidate point to its cov_res cell center) =
    r_cell(resolution) + 2 * r_cell(cov_res); the final haversine is exact."""
    from a5spark.kernels.traversal import estimate_cell_radius

    if resolution is None:
        raise ValueError("radius_join requires the index resolution")
    cov_res = cover_resolution or pick_cover_resolution(radius_m, resolution)
    cap_radius = (
        radius_m
        + estimate_cell_radius(resolution)
        + 2.0 * estimate_cell_radius(cov_res)
    )
    q = queries.select(
        F.col(query_id),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
        F.col(cell),
    )
    cand = _cap_candidates(
        q, points, cap_radius, resolution, cov_res, query_id, cell,
        _collect_fleet(q, query_id, cell),
    )
    cand = cand.withColumn(
        "dist_m", haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("lat"), F.col("lon"))
    )
    return cand.filter(F.col("dist_m") <= radius_m)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    resolution: int | None = None,
    point_id: str = "image_id",
    query_id: str = "query_id",
    cell: str = "cell",
    initial_radius: float | None = None,
    growth: float = 4.0,
    max_rounds: int = 8,
    tie_quantum_decimals: int | None = None,
    points_count: int | None = None,
) -> DataFrame:
    """Exact top-k nearest points for each query row.

    queries: (query_id, lon, lat, cell) — cell at the index resolution.
    points:  (..., point_id, lon, lat, cell) — same resolution.
    Returns query columns + point columns + dist_m + rank (1..k), ties broken
    by point_id ascending (deterministic, oracle-comparable).

    tie_quantum_decimals: when set, the rank window orders by dist_m ROUNDED
    to that many decimals (then point_id). Use it when comparing against an
    independently-computed oracle: geometrically equidistant points (common
    in synthetic lattice data) otherwise rank by libm ULP noise, which can
    differ between engines. 6 decimals = micrometer ties.

    Guarantee model: a round with cap radius r produces, for every query, ALL
    points within r (same accounting as radius_join); a query is emitted only
    when >= k candidates lie within r — its top-k is then provably exact. The
    residual queries re-run with radius r * growth; the last scheduled radius
    covers the sphere, so every query terminates with the true top-k (or all
    points, if the table holds fewer than k)."""
    from a5spark.kernels.traversal import estimate_cell_radius

    if resolution is None:
        raise ValueError("knn_join requires the index resolution")
    cell_rad = estimate_cell_radius(resolution)
    if initial_radius is not None:
        r = float(initial_radius)
    else:
        # density-adaptive round-1 radius: the cap holding ~4k expected
        # neighbors has r = 4R*sqrt(k/n) (small-cap area ~ pi r^2 over
        # 4 pi R^2 of sphere). The historic fixed 4*cell_rad floods dense
        # tables — at 1.5M points / res 5 it admits ~3.2k candidates per
        # query in round 1 where ~20 suffice (the schedule only affects
        # cost, never results: every round's emit is exactness-guarded).
        # Floored at cell_rad since the cap accounting adds cell_rad anyway;
        # points.count() is one cheap (often metadata-only) job, skipped
        # when the caller passes points_count.
        from a5spark.kernels.constants import AUTHALIC_RADIUS_EARTH

        n_pts = points_count if points_count is not None else points.count()
        r_density = 4.0 * AUTHALIC_RADIUS_EARTH * math.sqrt(
            max(k, 1) / float(max(n_pts, 1))
        )
        r = float(max(cell_rad, min(r_density, _EARTH_COVER_M)))

    radii = []
    for _ in range(max_rounds - 1):
        if r >= _EARTH_COVER_M:
            break
        radii.append(r)
        r *= growth
    radii.append(_EARTH_COVER_M)

    q = queries.select(
        F.col(query_id),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
        F.col(cell),
    )
    # the queries still to answer: a driver frame under _fleet_cap, else a
    # (persisted) Spark frame, re-collected each round once it fits
    fleet = _collect_fleet(q, query_id, cell)
    remaining = q
    out = None
    for i, rr in enumerate(radii):
        final = i == len(radii) - 1
        cov_res = pick_cover_resolution(rr, resolution)
        cap_radius = rr + cell_rad + 2.0 * estimate_cell_radius(cov_res)
        cand = _cap_candidates(
            remaining, points, cap_radius, resolution, cov_res, query_id, cell, fleet
        )
        cand = cand.withColumn(
            "dist_m",
            haversine_m(F.col("q_lat"), F.col("q_lon"), F.col("lat"), F.col("lon")),
        )
        wq = Window.partitionBy(query_id)
        rank_key = (
            F.round(F.col("dist_m"), tie_quantum_decimals)
            if tie_quantum_decimals is not None
            else F.col("dist_m")
        )
        if not final:
            # admit by the SAME key the window ranks on: with quantized
            # ranking, a rounding-tie group straddling the raw radius rr
            # must be admitted whole, or an early-emitted query's top-k
            # could differ from the global quantized order (round() is
            # monotone, so nothing within rr is ever excluded, and the
            # cap cover's margin >> 1 quantum keeps the admit set complete)
            if tie_quantum_decimals is not None:
                cand = cand.filter(
                    rank_key <= F.round(F.lit(rr), tie_quantum_decimals)
                )
            else:
                cand = cand.filter(F.col("dist_m") <= rr)
        wr = wq.orderBy(F.asc(rank_key), F.asc(point_id))
        scored = (
            cand.withColumn("rank", F.row_number().over(wr))
            .withColumn("__n_cand", F.count(F.lit(1)).over(wq))
            .filter(F.col("rank") <= k)
        )
        if final:
            done = cache.persist(scored.drop("__n_cand"))
            out = done if out is None else out.unionByName(done)
            break
        done = cache.persist(scored.filter(F.col("__n_cand") >= k).drop("__n_cand"))
        out = done if out is None else out.unionByName(done)
        # Stop as soon as every query is answered: most fleets resolve in
        # round 1, and a residual round run on an empty fleet still pays its
        # stages. A driver fleet drops the answered ids from one collect
        # (never more rows than the fleet); a Spark fleet is cut by a
        # left_anti and re-collected, which is also its emptiness probe.
        if fleet is not None:
            ids = util.bounded_collect(done.select(query_id).distinct(), [query_id], len(fleet))
            fleet = fleet[~fleet[query_id].isin(ids[query_id])]
        else:
            remaining = cache.persist(
                remaining.join(done.select(query_id).distinct(), query_id, "left_anti")
            )
            fleet = _collect_fleet(remaining, query_id, cell)
        if fleet is not None and fleet.empty:
            break
    return out
