"""Polygon layer operators: distributed polyfill + point-in-polygon joins.

Scale design: polyfill is a per-polygon sequential BFS (reference
regions/polygon.py:232-307), so the engine parallelizes ACROSS polygons —
one task per polygon via applyInPandas over the polygons DataFrame — and the
result is a (polygon_id, cell, resolution) cover relation. The cover is
small relative to the point table, so the spatial join broadcasts it:

  points x cover:  equi-join on cell at the cover's fill resolution, or
                   unsigned-range join on the shifted key for compacted
                   (multi-resolution) covers.

Exact refinement (centroids vs true polygon edges) runs as an Arrow-batched
PIP kernel over the surviving candidates only — the classic filter-and-refine.
"""

import json
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from a5spark.functions import native
from a5spark.operators import util
from a5spark.operators.spatial import cover_join, multires_cover_join

COVER_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType()),
        StructField("cell", LongType()),
        StructField("resolution", IntegerType()),
    ]
)


def polyfill_cover(
    polygons: DataFrame,
    resolution: int,
    id_col: str = "polygon_id",
    rings_col: str = "rings_json",
    spread_col: str | None = None,
) -> DataFrame:
    """Compute the compacted A5 cover of every polygon.

    polygons: DataFrame with a string id and a JSON-encoded rings column
    ``[[ [lon, lat], ... ], ...]`` (outer ring first, then holes).
    Returns (polygon_id, cell, resolution) — `resolution` is each cover
    cell's own resolution (compacted covers mix levels).
    """

    def fill(batches):
        from a5spark.kernels.polyfill import polygon_to_cells
        from a5spark.kernels.serialization import get_resolution, to_signed

        for pdf in batches:
            out_ids = []
            out_cells = []
            out_res = []
            for pid, rings_json in zip(pdf[id_col], pdf[rings_col]):
                rings = json.loads(rings_json)
                cells = polygon_to_cells(rings, resolution)
                if cells.size == 0:
                    continue
                res = get_resolution(cells)
                out_ids.extend([pid] * cells.size)
                out_cells.append(to_signed(cells))
                out_res.append(res.astype(np.int32))
            if not out_cells:
                yield pd.DataFrame(
                    {"polygon_id": [], "cell": [], "resolution": []}
                ).astype({"cell": "int64", "resolution": "int32"})
                continue
            yield pd.DataFrame(
                {
                    "polygon_id": out_ids,
                    "cell": np.concatenate(out_cells),
                    "resolution": np.concatenate(out_res),
                }
            )

    # each row IS one polygon, so no grouped shuffle is needed — spread rows
    # by id hash (big polygons don't convoy behind each other) and fill per
    # partition; one shuffle, no driver-side count job. spread_col widens
    # the hash key for layers where one id carries MANY rows (exploded
    # multipolygon parts): without it a 1000-part id pins to one task.
    # Task count = cluster slots (defaultParallelism): the historic 4x
    # over-decomposition bought nothing — AQE cannot rebalance inside a
    # mapInPandas stage, so extra tasks only smooth heterogeneous fill
    # costs, while each Python task costs ~5 ms dispatch (measured: a
    # 128-task UDF stage is ~0.5 s slower than a 32-task one on tiny
    # layers, the common case). Callers with pathologically skewed layers
    # can pre-repartition finer themselves.
    spark = polygons.sparkSession
    n_parts = min(512, spark.sparkContext.defaultParallelism)
    keys = [id_col] if spread_col is None else [id_col, spread_col]
    return polygons.repartition(n_parts, *keys).mapInPandas(fill, COVER_SCHEMA)


def point_in_polygon_join(
    points: DataFrame,
    cover: DataFrame,
    point_cell: str = "cell",
    expand_to: int | None = None,
    broadcast: bool = True,
) -> DataFrame:
    """Join points (with a fine-resolution cell column) against polygon
    covers.

    With `expand_to` (the points' resolution) the compacted cover is expanded
    JVM-side to that resolution (native children sequences) and the join is a
    broadcast HASH join — the scalable default. Without it, the compacted
    cover joins via unsigned descendant-range predicates (nested-loop; fine
    for small point sets)."""
    if expand_to is not None:
        from pyspark.sql import functions as _F

        expanded = cover.select(
            "polygon_id",
            _F.explode(
                native.cell_children(
                    _F.col("cell"), _F.col("resolution"), expand_to
                )
            ).alias(point_cell),
        )
        return cover_join(points, expanded, point_cell, broadcast)
    return multires_cover_join(
        points, cover, "cell", "resolution", point_cell, broadcast
    )


# per-python-worker prepared-polygon cache: (refine epoch, polygon id) ->
# PreparedPolygon. Workers are reused across batches, so each executor builds
# each polygon's prepared structure once per job; all chunks of one
# pip_refine call share one epoch, and entries are dropped once they fall
# two calls behind.
_PREP_CACHE: dict = {}
_PREP_CACHE_MAX = 50_000  # prepared polygons resident per Python worker
_REFINE_EPOCH = 0


def _prepare_rings(rings_json: str):
    from a5spark.kernels.polyfill import PreparedPolygon
    from a5spark.kernels.transforms import from_lonlat, to_cartesian

    ring_vecs = []
    for ring in json.loads(rings_json):
        arr = np.asarray(ring, dtype=np.float64)
        if arr.shape[0] > 1 and (arr[0] == arr[-1]).all():
            arr = arr[:-1]
        th, ph = from_lonlat(arr[:, 0], arr[:, 1])
        ring_vecs.append(to_cartesian(th, ph))
    return PreparedPolygon(ring_vecs)


def pip_refine(
    df: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "polygon_id",
    rings_col: str = "rings_json",
) -> DataFrame:
    """Exact point-in-polygon refinement of join candidates: prepared-polygon
    containment (cap -> crossing-number -> winding fallback) streamed with
    mapInPandas over candidate batches. Refine parallelism = #partitions, not
    #polygons — a continent-sized polygon's candidates stay spread across the
    cluster instead of funneling into one task. The polygon layer (the small
    side by construction) is broadcast once; prepared structures are built
    once per executor per polygon via a worker-level cache.

    The rings are collected with util.bounded_chunks under
    util.MAX_COLLECT_POLYGONS: one broadcast per chunk, candidates routed
    by the same hash predicate, results unioned. All chunks of one call
    share ONE prep-cache epoch (their polygon-id sets are hash-disjoint),
    so concurrently scheduled tasks from different union branches never
    evict each other's prepared polygons."""
    global _REFINE_EPOCH
    _REFINE_EPOCH += 1
    bid = _REFINE_EPOCH
    parts = []
    for pred, pdf in util.bounded_chunks(
        polygons, [id_col, rings_col], id_col, util.MAX_COLLECT_POLYGONS
    ):
        rings_by_id = dict(zip(pdf[id_col].tolist(), pdf[rings_col].tolist()))
        part = df if pred is None else df.filter(pred)
        parts.append(
            _pip_refine_collected(part, lon, lat, id_col, rings_by_id, bid)
        )
    return reduce(DataFrame.unionByName, parts)


def _pip_refine_collected(
    df: DataFrame, lon: str, lat: str, id_col: str, rings_by_id: dict, bid: int
) -> DataFrame:
    """Single-broadcast refine worker: `rings_by_id` is one bounded part of
    the polygon layer (see pip_refine), `bid` the call's prep-cache epoch."""
    schema = df.schema
    spark = df.sparkSession
    from a5spark import cache as _cache

    # scope-registered: destroyed by the caller once the result materializes
    bc = _cache.register_broadcast(spark.sparkContext.broadcast(rings_by_id))

    def refine(batches):
        from a5spark.kernels.polyfill import point_in_prepared_polygon
        from a5spark.kernels.transforms import from_lonlat, to_cartesian
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            pos = pd.RangeIndex(len(pdf))
            th, ph = from_lonlat(
                pdf[lon].to_numpy(np.float64), pdf[lat].to_numpy(np.float64)
            )
            pts = to_cartesian(th, ph)
            grouped = pd.Series(pos).groupby(pdf[id_col].to_numpy(), sort=False)
            for pid, idx in grouped.indices.items():
                if pid not in bc.value:
                    continue  # unknown polygon id: filter, matching the old
                    # inner-join semantics (keep[] stays False)
                key = (bid, pid)
                prep = _PREP_CACHE.get(key)
                if prep is None:
                    # evict only CLEARLY-STALE epochs (older than the
                    # previous call); interleaved tasks from the current and
                    # immediately-preceding call never thrash each other
                    for stale in [k for k in _PREP_CACHE if k[0] < bid - 1]:
                        _PREP_CACHE.pop(stale, None)
                    # size backstop: one shared epoch across a huge layer's
                    # chunks would otherwise accumulate the WHOLE layer in
                    # every long-lived worker (a 10^6-polygon call would
                    # trade the old driver OOM for a worker OOM). Beyond the
                    # cap, drop the cache wholesale — an occasional re-prepare
                    # is cheap; unbounded residency is not.
                    if len(_PREP_CACHE) >= _PREP_CACHE_MAX:
                        _PREP_CACHE.clear()
                    prep = _prepare_rings(bc.value[pid])
                    _PREP_CACHE[key] = prep
                keep[idx] = point_in_prepared_polygon(pts[idx], prep)
            yield pdf.loc[keep]

    return df.mapInPandas(refine, schema)


def _polyfill_cover_parts(
    polygons: DataFrame, parts: "F.Column", resolution: int, id_col: str
) -> DataFrame:
    """Fill a multi-part polygon layer: explode parts (a part — one outer
    ring plus its holes — is exactly the unit `polyfill_cover` consumes),
    fill each part independently, and union per layer id. Valid multi-
    polygon parts are disjoint, but adjacent parts can still share
    boundary cover cells, so exact duplicate (id, cell, resolution) rows
    are dropped; overlapping-INVALID parts may additionally leave
    ancestor/descendant redundancy in the union (garbage-in tolerance, not
    a canonical re-compact)."""
    exploded = polygons.select(
        F.col(id_col), F.posexplode(parts).alias("_part_idx", "_part_rings")
    ).select(id_col, "_part_idx", F.to_json("_part_rings").alias("rings_json"))
    cover = polyfill_cover(
        exploded, resolution, id_col=id_col, spread_col="_part_idx"
    )
    return cover.dropDuplicates(["polygon_id", "cell", "resolution"])


def polyfill_cover_wkt(
    polygons: DataFrame,
    resolution: int,
    id_col: str = "polygon_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """`polyfill_cover` for polygon layers that arrive as WKT strings (the
    common interchange shape out of PostGIS/GeoPandas exports): the WKT is
    parsed JVM-side (functions.gis.wkt_polygon_parts — POLYGON,
    MULTIPOLYGON, and GEOMETRYCOLLECTION polygonal members; holes
    included, pure Catalyst), one fill per polygon part, unioned per layer
    id. Rows whose WKT contains no polygonal geometry produce no cover
    rows."""
    from a5spark.functions.gis import wkt_polygon_parts

    return _polyfill_cover_parts(
        polygons, wkt_polygon_parts(F.col(wkt_col)), resolution, id_col
    )


def polyfill_cover_geojson(
    polygons: DataFrame,
    resolution: int,
    id_col: str = "polygon_id",
    geojson_col: str = "geojson",
) -> DataFrame:
    """`polyfill_cover` for polygon layers arriving as GeoJSON geometry
    strings (functions.gis.geojson_polygon_parts — Polygon, MultiPolygon,
    and GeometryCollection polygonal members; holes included, from_json in
    Catalyst), one fill per part, unioned per layer id. Non-polygonal or
    malformed rows produce no cover rows."""
    from a5spark.functions.gis import geojson_polygon_parts

    return _polyfill_cover_parts(
        polygons, geojson_polygon_parts(F.col(geojson_col)), resolution, id_col
    )


def cover_to_multipolygon_wkt(
    cover: DataFrame,
    id_col: str = "polygon_id",
    cell_col: str = "cell",
    precision: int = 7,
    fixed: bool = False,
) -> DataFrame:
    """Export a (id, cell) cover relation as one MULTIPOLYGON WKT row per
    id — the inverse direction of `polyfill_cover_wkt` (parse multi in,
    export multi out): each cover cell's boundary ring becomes one polygon
    part, parts ordered by cell id (deterministic, engine-independent).

    Scale bound: the per-id collect_list holds one ring (~10-120 points)
    per cover cell, so the output string is O(cover size per id) — covers
    are compact by design (polyfill compacts; a res-7 country is 10^2-10^4
    cells), and the aggregation is a standard hash agg on the id key.
    `fixed=True` renders truncation-exact fixed-point coordinates for
    cross-engine hashing (functions.gis.rings_to_multipolygon_wkt_fixed).
    """
    from a5spark.functions.gis import (
        rings_to_multipolygon_wkt,
        rings_to_multipolygon_wkt_fixed,
    )
    from a5spark.functions.udfs import a5_cell_to_boundary

    build = (
        (lambda c: rings_to_multipolygon_wkt_fixed(c, precision))
        if fixed
        else (lambda c: rings_to_multipolygon_wkt(c, precision))
    )
    ringed = cover.select(
        F.col(id_col),
        F.struct(
            F.col(cell_col).alias("cell"),
            a5_cell_to_boundary(F.col(cell_col)).alias("ring"),
        ).alias("part"),
    )
    grouped = ringed.groupBy(id_col).agg(
        F.array_sort(F.collect_list("part")).alias("parts")
    )
    # count parts AFTER the same >=4-point ring filter the WKT builder
    # applies, so n_parts always equals the part count in the string (A5
    # boundaries are >=6-point closed rings, but a degenerate input ring
    # must not diverge the count from the geometry)
    return grouped.select(
        F.col(id_col),
        F.size(F.filter("parts", lambda s: F.size(s["ring"]) >= 4))
        .cast("long")
        .alias("n_parts"),
        build(F.transform("parts", lambda s: s["ring"])).alias("wkt"),
    )


def cover_to_multipolygon_geojson(
    cover: DataFrame,
    id_col: str = "polygon_id",
    cell_col: str = "cell",
    precision: int = 7,
) -> DataFrame:
    """GeoJSON twin of `cover_to_multipolygon_wkt`: one MultiPolygon
    geometry string per cover id, one part per cover cell in cell order
    (functions.gis.rings_to_multipolygon_geojson). Same O(cover-per-id)
    output bound."""
    from a5spark.functions.gis import rings_to_multipolygon_geojson
    from a5spark.functions.udfs import a5_cell_to_boundary

    ringed = cover.select(
        F.col(id_col),
        F.struct(
            F.col(cell_col).alias("cell"),
            a5_cell_to_boundary(F.col(cell_col)).alias("ring"),
        ).alias("part"),
    )
    grouped = ringed.groupBy(id_col).agg(
        F.array_sort(F.collect_list("part")).alias("parts")
    )
    # same >=4-point filter as the GeoJSON builder — see the WKT twin above
    return grouped.select(
        F.col(id_col),
        F.size(F.filter("parts", lambda s: F.size(s["ring"]) >= 4))
        .cast("long")
        .alias("n_parts"),
        rings_to_multipolygon_geojson(
            F.transform("parts", lambda s: s["ring"]), precision
        ).alias("geojson"),
    )
