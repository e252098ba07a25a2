"""The four workloads. Each drives the engine only through public
functions of a5spark.kernels, a5spark.functions, a5spark.operators.* and
a5spark.streaming, on inputs made by perfbench.inputs from the seed.

A workload has:
  generate()  seeded inputs -> files (set-up, repeatable)
  prepare()   engine-side set-up: the cell layout, the streaming query
  warm()      one untimed round of the timed operation
  op(i)       one timed operation -> Op
  check(op)   None, or what is wrong with the op's answer
  l0_inputs() the points, polygons and caps the L0 kernels are timed on

op(i) for a traced run is the same code: the Tracer's spans and
materialize() are no-ops when tracing is off."""

import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from a5spark import cache
from perfbench import inputs, oracles


@dataclass
class Op:
    kind: str
    rows: int
    answer: dict = field(default_factory=dict)
    latency_s: float = 0.0
    error: str | None = None


def _collect(tr, df):
    with tr.span("session.collect"):
        return df.collect()


def _query_frame(spark, lonlat, resolution):
    """Query points with their cell, encoded on the driver by the L0 kernel
    (a request carries a handful of points)."""
    from a5spark.kernels.cell import lonlat_to_cell

    lon = np.array([p[0] for p in lonlat])
    lat = np.array([p[1] for p in lonlat])
    cells = lonlat_to_cell(lon, lat, resolution).view(np.int64)
    rows = [(i, float(lon[i]), float(lat[i]), int(cells[i])) for i in range(len(lonlat))]
    return spark.createDataFrame(rows, "query_id long, lon double, lat double, cell long")


class Workload:
    cycle = 1  # ops per whole round; the timed phase ends on a round boundary
    row_unit = "rows"

    def __init__(self, spark, tracer, seed, work_dir):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.work = work_dir
        os.makedirs(work_dir, exist_ok=True)

    def rng(self, *stream):
        return np.random.default_rng((self.seed, *stream))

    def prepare(self):
        pass

    def warm(self):
        self.op(-1)

    def check(self, op):
        return None

    def final_check(self):
        return None

    def close(self):
        pass


# --- bulk_assign -------------------------------------------------------------


class BulkAssign(Workload):
    """Batch ingest of a seeded image table: assign cells at res 9,
    multi-resolution density (5/7/9) with top-k, and a cell layout."""

    N_ROWS = 800_000
    RES = 9
    DENSITY_RES = (9, 7, 5)
    TOP_K = 20
    row_unit = "image rows"

    def generate(self):
        self.points = inputs.PointSet(self.rng(1), self.N_ROWS)
        self.n_files = self.spark.sparkContext.defaultParallelism
        self.input = os.path.join(self.work, "images")
        shutil.rmtree(self.input, ignore_errors=True)
        self.points.write(self.input, self.n_files)
        self.layout = os.path.join(self.work, "layout")

    def properties(self):
        per_task = self.N_ROWS / self.n_files
        return {
            "rows": self.N_ROWS,
            "hot_share": self.points.hot_share,
            "input_files": self.n_files,
            "rows_per_task": per_task,
            "rows_per_task_over_arrow_batch": per_task / inputs.ARROW_BATCH_ROWS,
            "resolution": self.RES,
            "density_resolutions": list(self.DENSITY_RES),
        }

    def op(self, i):
        from a5spark.operators.layout import write_cell_layout
        from a5spark.operators.spatial import (
            assign_cells, cell_density, rollup_density, top_k_cells,
        )

        tr = self.tr
        img = self.spark.read.parquet(self.input)
        with tr.span("operators.spatial.assign_cells") as a:
            # two consumers (density, layout write): persisted once
            assigned = tr.materialize(cache.persist(assign_cells(img, self.RES)), a)
            a["rows_in"] = self.N_ROWS
        with tr.span("operators.spatial.cell_density"):
            fine = tr.materialize(cache.persist(cell_density(assigned)))
        totals, top = {}, {}
        for res in self.DENSITY_RES:
            d = fine
            if res != self.RES:
                with tr.span("operators.spatial.rollup_density"):
                    d = tr.materialize(rollup_density(fine, self.RES, res))
            with tr.span("operators.spatial.top_k_cells"):
                t = tr.materialize(top_k_cells(d, self.TOP_K))
            top[res] = [r["n"] for r in _collect(tr, t)]
            totals[res] = _collect(tr, d.agg(F.sum("n").alias("n")))[0]["n"]
        with tr.span("operators.layout.write_cell_layout") as a:
            manifest = write_cell_layout(assigned, self.layout)
            a["files_written"] = len(manifest["files"])
        return Op("ingest", self.N_ROWS, {
            "totals": totals, "top": top,
            "layout_rows": sum(e["rows"] for e in manifest["files"]),
        })

    def check(self, op):
        a = op.answer
        return (
            oracles.check_density(a["totals"], self.N_ROWS)
            or oracles.check_topk(a["top"], self.TOP_K)
            or (None if a["layout_rows"] == self.N_ROWS
                else f"layout holds {a['layout_rows']} rows, not {self.N_ROWS}")
        )

    def final_check(self):
        """A seeded sample of the written layout's cells against a direct
        kernels.cell.lonlat_to_cell call on the same points. The layout's
        files are read with pyarrow, not through the engine."""
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(self.layout) if f.endswith(".parquet"))
        rng = self.rng(2)
        ids, cells = [], []
        for f in rng.choice(files, min(4, len(files)), replace=False):
            t = pq.read_table(os.path.join(self.layout, f), columns=["image_id", "cell"])
            take = rng.choice(t.num_rows, min(500, t.num_rows), replace=False)
            ids.append(t.column("image_id").to_numpy()[take])
            cells.append(t.column("cell").to_numpy()[take])
        ids = np.concatenate(ids)
        return oracles.check_cells(
            self.points.lon[ids], self.points.lat[ids], self.RES, np.concatenate(cells)
        )

    def l0_inputs(self):
        return self.points.lon, self.points.lat, self.RES, _l0_requests(self.seed)


# --- spatial_queries ---------------------------------------------------------


def _spatial_request(points, rng, kind):
    """Parameters of one seeded request of type `kind`. Every request has
    the same share of hot-spot centres, so rounds differ in where they
    look, not in how much data they touch."""
    if kind in ("radius", "knn"):
        n = SpatialQueries.N_QUERY_POINTS
        q = [points.centre(rng, hot=j < n // 2) for j in range(n)]
        return {"queries": q, "radius_m": float(rng.uniform(*SpatialQueries.RADIUS_KM)) * 1000.0}
    if kind == "pip":
        centres = [points.centre(rng, hot=True), points.centre(rng, hot=False)]
        r_lo, r_hi = SpatialQueries.PIP_RADIUS_KM
    else:
        centres = [points.centre(rng, hot=True)]
        r_lo, r_hi = SpatialQueries.TILE_RADIUS_KM
    polys = []
    for c in centres:
        nv = int(rng.integers(8, 65))
        polys.append({"centre": c, "ring": inputs.star_polygon(rng, *c, nv, r_lo, r_hi)})
    return {"polygons": polys}


def _polygon_ranges(polys):
    """Vertex-count and area ranges of the polygons sent so far."""
    polys = list(polys)
    if not polys:
        return {}
    nv = [len(p["ring"]) for p in polys]
    area = [inputs.polygon_area_km2(p["ring"], *p["centre"]) for p in polys]
    return {
        "polygons_sent": len(polys),
        "polygon_vertices_seen": [min(nv), max(nv)],
        "polygon_area_km2_seen": [round(min(area)), round(max(area))],
    }


def _l0_requests(seed, n=4):
    """Polygons and caps for timing the L0 polyfill and traversal kernels
    on workloads that have no spatial requests of their own."""
    pts = inputs.PointSet(np.random.default_rng((seed, 40)), 1000)
    rng = np.random.default_rng((seed, 41))
    polys = [p for _ in range(n) for p in _spatial_request(pts, rng, "pip")["polygons"]]
    caps = [_spatial_request(pts, rng, "radius") for _ in range(n)]
    return {"polygons": polys, "caps": caps}


class SpatialQueries(Workload):
    """Closed loop, one client: a seeded mix of radius, kNN, point-in-polygon
    and tile requests against a cell layout written in set-up. Each round
    sends each request type once, in a seeded order."""

    N_POINTS = 60_000
    RES = 9
    N_QUERY_POINTS = 8  # half at hot-spot centres
    RADIUS_KM = (100.0, 200.0)
    PIP_RADIUS_KM = (150.0, 300.0)  # star polygons: min/max vertex distance
    TILE_RADIUS_KM = (250.0, 400.0)
    KNN_K = 5
    PIP_RES = 6
    TILE_COVER_RES = 6
    TILE_LEVELS = (6, 7)
    KINDS = ("radius", "knn", "pip", "tile")
    cycle = len(KINDS)
    row_unit = "requests"

    def generate(self):
        self.points = inputs.PointSet(self.rng(1), self.N_POINTS)
        self.input = os.path.join(self.work, "points")
        shutil.rmtree(self.input, ignore_errors=True)
        self.points.write(self.input, self.spark.sparkContext.defaultParallelism)
        self.layout = os.path.join(self.work, "layout")
        self.requests = []  # (kind, parameters) of every request sent, for L0

    def prepare(self):
        from a5spark.operators.layout import write_cell_layout
        from a5spark.operators.spatial import assign_cells

        with cache.scope():
            # persisted: the layout's range partitioner samples its input
            # before the write reads it again
            assigned = cache.persist(
                assign_cells(self.spark.read.parquet(self.input), self.RES)
            )
            self.manifest = write_cell_layout(assigned, self.layout)
        self.pts = self.spark.read.parquet(self.layout).select(
            "image_id", "lon", "lat", "cell"
        )
        self.cells_u64 = None

    def properties(self):
        return {
            "layout_rows": self.N_POINTS,
            "layout_files": len(self.manifest["files"]),
            "hot_share": self.points.hot_share,
            "request_mix": {k: 1 / len(self.KINDS) for k in self.KINDS},
            "query_points_per_request": self.N_QUERY_POINTS,
            "hot_query_point_share": 0.5,
            "radius_km": list(self.RADIUS_KM),
            "knn_k": self.KNN_K,
            "polygon_vertices": [8, 64],
            "pip_polygons": "2 per request: one at a hot-spot centre, one uniform",
            "pip_polygon_radius_km": list(self.PIP_RADIUS_KM),
            "tile_region": "1 per request, at a hot-spot centre",
            "tile_region_radius_km": list(self.TILE_RADIUS_KM),
            **_polygon_ranges(p for kind, req in self.requests for p in req.get("polygons", [])),
            "pip_cover_res": self.PIP_RES,
            "tile_levels": list(self.TILE_LEVELS),
        }

    def warm(self):
        """One round of the mix with its own seeds: every request type's
        plan is compiled once before timing, as in a running service."""
        for j, kind in enumerate(self.KINDS):
            self._run(kind, self.rng(90, j))

    def op(self, i):
        cycle, pos = divmod(i, self.cycle)
        kind = self.KINDS[self.rng(20, cycle).permutation(self.cycle)[pos]]
        return self._run(kind, self.rng(21, i))

    def _run(self, kind, rng):
        req = _spatial_request(self.points, rng, kind)
        answer = getattr(self, f"_{kind}")(req)
        self.requests.append((kind, req))
        return Op(kind, 1, {"req": req, **answer})

    def _radius(self, req):
        from a5spark.operators.knn import radius_join

        tr = self.tr
        with tr.span("kernels.cell.lonlat_to_cell"):
            q = _query_frame(self.spark, req["queries"], self.RES)
        with tr.span("operators.knn.radius_join") as a:
            out = tr.materialize(radius_join(q, self.pts, req["radius_m"], resolution=self.RES), a)
        got: dict = {}
        for r in _collect(tr, out.select("query_id", "image_id")):
            got.setdefault(r["query_id"], set()).add(r["image_id"])
        return {"got": got}

    def _knn(self, req):
        from a5spark.operators.knn import knn_join

        tr = self.tr
        with tr.span("kernels.cell.lonlat_to_cell"):
            q = _query_frame(self.spark, req["queries"], self.RES)
        with tr.span("operators.knn.knn_join") as a:
            out = tr.materialize(knn_join(
                q, self.pts, self.KNN_K, resolution=self.RES, point_id="image_id",
                points_count=self.N_POINTS,
            ), a)
        got: dict = {}
        for r in _collect(tr, out.select("query_id", "image_id", "dist_m")):
            got.setdefault(r["query_id"], []).append((r["image_id"], r["dist_m"]))
        return {"got": got}

    def _scan(self, cover_u64):
        from a5spark.operators.layout import scan_cell_layout

        with self.tr.span("operators.layout.scan_cell_layout") as a:
            scan, stats = scan_cell_layout(self.spark, self.layout, cover_u64)
            a.update(stats)
            return self.tr.materialize(scan, a)

    def _pip(self, req):
        from a5spark.kernels.serialization import from_signed
        from a5spark.operators.polygons import (
            pip_refine, point_in_polygon_join, polyfill_cover,
        )

        tr = self.tr
        polys = self.spark.createDataFrame(
            [(f"p{j}", json.dumps([p["ring"]])) for j, p in enumerate(req["polygons"])],
            "polygon_id string, rings_json string",
        )
        with tr.span("operators.polygons.polyfill_cover"):
            cover = tr.materialize(polyfill_cover(polys, self.PIP_RES))
        cover_rows = _collect(tr, cover.select("polygon_id", "cell"))
        cover_u64 = from_signed(np.array([r["cell"] for r in cover_rows], dtype=np.int64))
        scan = self._scan(np.unique(cover_u64))
        with tr.span("operators.polygons.point_in_polygon_join") as a:
            cand = tr.materialize(
                point_in_polygon_join(scan, cover, point_cell="cell", expand_to=self.RES), a
            )
        with tr.span("operators.polygons.pip_refine") as a:
            refined = tr.materialize(pip_refine(cand, polys), a)
        got: dict = {}
        for r in _collect(tr, refined.select("polygon_id", "image_id")):
            got.setdefault(r["polygon_id"], set()).add(r["image_id"])
        covers: dict = {}
        for r, c in zip(cover_rows, cover_u64):
            covers.setdefault(r["polygon_id"], []).append(c)
        return {"got": got, "covers": covers}

    def _tile(self, req):
        from a5spark.kernels.polyfill import polygon_to_cells
        from a5spark.kernels.serialization import from_signed
        from a5spark.operators.tiles import tile_pyramid

        tr = self.tr
        with tr.span("kernels.polyfill.polygon_to_cells"):
            cover = polygon_to_cells([req["polygons"][0]["ring"]], self.TILE_COVER_RES)
        scan = self._scan(cover)
        with tr.span("operators.tiles.tile_pyramid"):
            tiles = tr.materialize(tile_pyramid(scan, list(self.TILE_LEVELS), tile_px=32))
        rows = _collect(tr, tiles.select("cell", "resolution", "n_images"))
        got = {
            (r["resolution"], int(from_signed(np.array([r["cell"]]))[0])): r["n_images"]
            for r in rows
        }
        return {"got": got, "cover": cover}

    def _point_cells(self):
        from a5spark.kernels.cell import lonlat_to_cell

        if self.cells_u64 is None:
            self.cells_u64 = lonlat_to_cell(self.points.lon, self.points.lat, self.RES)
        return self.cells_u64

    def check(self, op):
        a, req, p = op.answer, op.answer["req"], self.points
        if op.kind == "radius":
            return oracles.check_radius(p, req["queries"], req["radius_m"], a["got"])
        if op.kind == "knn":
            return oracles.check_knn(p, req["queries"], self.KNN_K, a["got"])
        if op.kind == "pip":
            from a5spark.kernels.polyfill import polygon_to_cells

            for j, poly in enumerate(req["polygons"]):
                pid = f"p{j}"
                cover = np.sort(np.array(a["covers"].get(pid, []), dtype=np.uint64))
                if not np.array_equal(cover, polygon_to_cells([poly["ring"]], self.PIP_RES)):
                    return f"pip: cover of {pid} differs from kernels.polyfill"
                err = oracles.check_pip(
                    p, self._point_cells(), poly["ring"], poly["centre"], cover,
                    a["got"].get(pid, set()),
                )
                if err:
                    return err
            return None
        return oracles.check_tiles(self._point_cells(), a["cover"], self.TILE_LEVELS, a["got"])

    def l0_inputs(self):
        reqs = {"polygons": [], "caps": []}
        for kind, req in self.requests:
            if kind in ("pip", "tile"):
                reqs["polygons"] += req["polygons"]
            elif kind == "radius":
                reqs["caps"].append(req)
        return self.points.lon, self.points.lat, self.RES, reqs


# --- event_stream ------------------------------------------------------------


class EventStream(Workload):
    """Event files land one at a time in the source directory of
    streaming.density.streaming_cell_density; each landing is followed by
    processAllAvailable(), so each file is one micro-batch."""

    RES = 7
    WARM_FILES = 2
    row_unit = "events"

    def generate(self):
        self.feed = inputs.EventFeed(self.seed)
        self.landed = 0

    def prepare(self):
        from pyspark.sql.types import LongType, StructField, StructType, TimestampType

        from a5spark.streaming.density import streaming_cell_density

        self.close()
        self.src = os.path.join(self.work, "events")
        self.ckpt = os.path.join(self.work, "checkpoint")
        for d in (self.src, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.src)
        self.landed = 0
        schema = StructType(
            [StructField("user_id", LongType()), StructField("ts", TimestampType())]
        )
        stream = streaming_cell_density(self.spark, self.src, schema, resolution=self.RES)
        self.table = f"bench_density_{os.getpid()}"
        self.query = (
            stream.writeStream.format("memory").queryName(self.table)
            .outputMode("update").option("checkpointLocation", self.ckpt).start()
        )
        self.progress: dict = {}

    def properties(self):
        f = self.feed
        return {
            "events_per_file": f.per_file,
            "users": f.n_users,
            "hot_users": len(f.hot_users),
            "hot_share": f.hot_share,
            "event_time_per_file_s": f.SLICE_S,
            "window": "15 minutes",
            "watermark": "1 hour",
            "resolution": self.RES,
            "output_mode": "update",
        }

    def warm(self):
        for _ in range(self.WARM_FILES):
            self.op(-1)

    def op(self, i):
        with self.tr.span("streaming.density.micro_batch"):
            t_land = self.feed.land(self.src, self.landed)
            self.landed += 1
            self.query.processAllAvailable()
            # latency runs from the landing (rename) to the commit
            op = Op("batch", self.feed.per_file, latency_s=time.perf_counter() - t_land)
        for p in self.query.recentProgress:
            self.progress.setdefault(p["batchId"], p)
        return op

    def final_check(self):
        rows = (
            self.spark.table(self.table)
            .groupBy(F.unix_micros("window_start").alias("w"), "cell")
            .agg(F.max("n_events").alias("n"))
            .collect()
        )
        got = {(r["w"], r["cell"]): r["n"] for r in rows}
        return oracles.check_stream(self.feed, self.landed, self.RES, got)

    def l0_inputs(self):
        users = np.concatenate([self.feed.events(i)[0] for i in range(max(self.landed, 1))])
        lon, lat = inputs.user_lonlat(users)
        return lon, lat, self.RES, _l0_requests(self.seed)

    def close(self):
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()


# --- neardup -----------------------------------------------------------------


class NearDup(Workload):
    """Embedding near-duplicate pairs, IVF top-k and document Jaccard
    verification. No A5 kernel runs here."""

    N_VECTORS = 4000
    DIM = 64
    PLANTED_VEC_SHARE = 0.05
    VEC_NOISE = 0.03
    COS_NUM, COS_DEN = 81, 100  # cos >= 0.9
    LSH = {"n_bits": 10, "n_tables": 6}
    IVF = {"k": 3, "n_lists": 16, "n_probe": 4}
    IVF_EVERY = 20
    N_DOCS = 2000
    DOC_WORDS = 40
    PLANTED_DOC_SHARE = 0.05
    SHINGLE_K = 5
    MINHASH = {"n_hashes": 16, "band_size": 2}
    JACCARD_MIN = 0.7
    row_unit = "vectors"

    def generate(self):
        self.ids, self.mat, self.vec_pairs = inputs.neardup_vectors(
            self.rng(1), self.N_VECTORS, self.DIM, self.PLANTED_VEC_SHARE, self.VEC_NOISE
        )
        self.doc_ids, self.docs, self.doc_pairs = inputs.neardup_docs(
            self.rng(2), self.N_DOCS, self.DOC_WORDS, self.PLANTED_DOC_SHARE
        )
        n_files = self.spark.sparkContext.defaultParallelism
        self.vec_path = os.path.join(self.work, "embeddings")
        self.doc_path = os.path.join(self.work, "documents")
        for p in (self.vec_path, self.doc_path):
            shutil.rmtree(p, ignore_errors=True)
        inputs.write_table(
            self.vec_path, {"vec_id": self.ids, "embedding": list(self.mat)}, n_files
        )
        inputs.write_table(
            self.doc_path, {"doc_id": self.doc_ids, "text": np.array(self.docs, dtype=object)}, n_files
        )

    def properties(self):
        return {
            "vectors": len(self.ids),
            "dim": self.DIM,
            "planted_vector_pairs": len(self.vec_pairs),
            "planted_vector_pair_share": len(self.vec_pairs) / len(self.ids),
            "cosine_threshold": math.sqrt(self.COS_NUM / self.COS_DEN),
            "ivf_queries": len(self.ids[:: self.IVF_EVERY]),
            "documents": len(self.docs),
            "planted_doc_pairs": len(self.doc_pairs),
            "planted_doc_pair_share": len(self.doc_pairs) / len(self.docs),
            "jaccard_min": self.JACCARD_MIN,
        }

    def op(self, i):
        from a5spark.operators.dedup import (
            jaccard_pairs, lsh_candidate_pairs, minhash_bands, minhash_signatures,
        )
        from a5spark.operators.similarity import (
            cosine_neardup_pairs, ivf_topk, neardup_candidate_pairs,
        )

        tr = self.tr
        emb = self.spark.read.parquet(self.vec_path)
        docs = self.spark.read.parquet(self.doc_path)
        with tr.span("operators.similarity.cosine_neardup_pairs") as a:
            pairs = tr.materialize(cosine_neardup_pairs(
                emb, self.DIM, self.COS_NUM, self.COS_DEN, **self.LSH, scale=127,
            ), a)
        if tr.enabled:
            # the candidate count behind the pairs (traced runs only)
            with tr.span("operators.similarity.neardup_candidate_pairs") as a:
                a["candidates"] = neardup_candidate_pairs(
                    emb, self.DIM, self.LSH["n_bits"], self.LSH["n_tables"], 127
                ).count()
        cos = {(r["id_a"], r["id_b"]): r["qdot"] for r in _collect(tr, pairs)}
        queries = emb.filter(F.col("vec_id") % self.IVF_EVERY == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        with tr.span("operators.similarity.ivf_topk"):
            ivf = tr.materialize(ivf_topk(queries, emb, dim=self.DIM, **self.IVF))
        top: dict = {}
        for r in _collect(tr, ivf):
            top.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["qdot"]))
        with tr.span("operators.dedup.minhash_signatures"):
            sig = tr.materialize(minhash_signatures(docs, k=self.SHINGLE_K, n_hashes=self.MINHASH["n_hashes"]))
        with tr.span("operators.dedup.minhash_bands"):
            bands = tr.materialize(minhash_bands(sig, band_size=self.MINHASH["band_size"]))
        with tr.span("operators.dedup.lsh_candidate_pairs") as a:
            cand = tr.materialize(lsh_candidate_pairs(bands), a)
        with tr.span("operators.dedup.jaccard_pairs") as verify:
            jac = tr.materialize(jaccard_pairs(cand, docs, k=self.SHINGLE_K), verify)
        verified = jac.filter(F.col("jaccard") >= self.JACCARD_MIN)
        jrows = _collect(tr, verified.select("id_a", "id_b", "jaccard"))
        verify["verified"] = len(jrows)
        return Op("pass", len(self.ids), {
            "cos": cos, "ivf": top,
            "jaccard": {(r["id_a"], r["id_b"]): r["jaccard"] for r in jrows},
        })

    def check(self, op):
        a = op.answer
        return (
            oracles.check_cosine_pairs(self.mat, self.vec_pairs, self.COS_NUM, self.COS_DEN, a["cos"])
            or oracles.check_ivf(self.mat, self.IVF["k"], a["ivf"])
            or oracles.check_jaccard(self.docs, self.doc_pairs, self.SHINGLE_K, self.JACCARD_MIN, a["jaccard"])
        )

    def l0_inputs(self):
        lon, lat = inputs.uniform_sphere(self.rng(3), 100_000)
        return lon, lat, 9, _l0_requests(self.seed)


WORKLOADS = {
    "bulk_assign": BulkAssign,
    "spatial_queries": SpatialQueries,
    "event_stream": EventStream,
    "neardup": NearDup,
}
