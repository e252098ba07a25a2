"""Round-3 regression tests: antipodal kNN exactness, world-cell neighbor
UDF, scoped persist registry, checkpoint stale-partition cleanup, LSH bucket
caps (added later this round)."""

import math
import os
import shutil

import numpy as np
import pytest

SF_DIR = os.environ.get("A5_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from a5spark.session import get_spark

    s = get_spark("a5spark-round3-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_meters_to_h_clamps_past_half_circumference():
    from a5spark.kernels.constants import AUTHALIC_RADIUS_EARTH
    from a5spark.kernels.traversal import meters_to_h

    half = math.pi * AUTHALIC_RADIUS_EARTH
    assert meters_to_h(half) == 1.0
    # pre-fix this folded back below 1.0 and shrank the cap
    assert meters_to_h(half * 1.05) == 1.0
    assert meters_to_h(half * 0.5) < 1.0


def test_knn_join_exact_with_antipodal_neighbors(spark):
    """A query whose true top-k lies near its ANTIPODE: the final full-sphere
    round must include those points (pre-fix the folded haversine threshold
    excluded cells near the antipode)."""
    from pyspark.sql import functions as F

    from a5spark.operators.knn import knn_join
    from a5spark.operators.spatial import assign_cells

    # 2 points near the query at (10, 10); 5 points near the antipode
    pts = [("near_%d" % i, 10.0 + 0.1 * i, 10.0) for i in range(2)]
    pts += [("anti_%d" % i, -170.0 + 0.1 * i, -10.0) for i in range(5)]
    pdf = spark.createDataFrame(pts, ["image_id", "lon", "lat"])
    pdf = assign_cells(pdf, 5)
    q = spark.createDataFrame([("q0", 10.0, 10.0)], ["query_id", "lon", "lat"])
    q = assign_cells(q, 5)

    out = knn_join(q, pdf, k=5, resolution=5, point_id="image_id").collect()
    got = {r["image_id"] for r in out}
    assert len(out) == 5
    # true top-5: both near points + the 3 nearest antipodal points
    assert {"near_0", "near_1"} <= got
    assert len([g for g in got if g.startswith("anti_")]) == 3


def test_world_cell_neighbors_returns_empty(spark):
    from pyspark.sql import functions as F

    from a5spark.functions.udfs import a5_cell_neighbors

    df = spark.createDataFrame([(0,)], ["cell"]).select(
        a5_cell_neighbors(F.col("cell").cast("long")).alias("nbrs")
    )
    row = df.collect()[0]
    assert row["nbrs"] == []


def test_cache_scope_is_isolated(spark):
    from a5spark import cache

    a = spark.range(10)
    b = spark.range(20)
    cache.persist(a)
    with cache.scope():
        cache.persist(b)
        cache.release_persisted()  # releases b only
        assert not b.storageLevel.useMemory
        assert a.storageLevel.useMemory
    assert a.storageLevel.useMemory
    cache.release_persisted()
    assert not a.storageLevel.useMemory


def test_checkpoint_clears_stale_uncommitted_partition(spark, tmp_path):
    """Crash sim: data for part p exists but p is uncommitted, and the
    resumed source yields ZERO rows for p — the stale directory must not be
    committed into the manifest."""
    from pyspark.sql import functions as F

    from a5spark.pipeline.checkpoint import (
        read_output,
        run_partitioned,
        with_partition,
    )
    from a5spark.sources.images import images_from_sf_dir

    out = str(tmp_path / "ckpt")
    df = images_from_sf_dir(spark, SF_DIR).limit(64)
    staged = with_partition(df, "image_id", 4)
    # full first run to lay down directories
    run_partitioned(df, out, n_parts=4, key="image_id")
    n_p2 = staged.filter(F.col("part") == 2).count()
    assert n_p2 > 0
    total = df.count()

    # crash sim: part 2 data on disk, manifest entry gone, source now empty
    os.remove(os.path.join(out, "_manifest", "2.json"))
    df_no_p2 = staged.filter(F.col("part") != 2).drop("part")
    stats = run_partitioned(df_no_p2, out, n_parts=4, key="image_id")
    assert stats["committed_now"] == 1
    assert stats["rows_written"] == 0  # stale rows NOT re-committed
    assert read_output(spark, out).count() == total - n_p2


def _hot_cluster_vectors(n_hot=300, n_rand=100, dim=16, seed=7):
    """One dense-direction cluster (pairwise cos ~0.5: collides in few
    primary LSH bits, splits under suffix bits) + background noise."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=dim)
    base /= np.linalg.norm(base)
    hot = base[None, :] + 0.25 * rng.normal(size=(n_hot, dim))
    rand = rng.normal(size=(n_rand, dim))
    return np.vstack([hot, rand])


def test_lsh_bucket_cap_bounds_candidates(spark):
    """Adversarial corpus: a hot cluster piles into few primary buckets. The
    cap must cut candidate volume to <= c*n while uncapped goes
    near-quadratic."""
    from a5spark.operators.similarity import neardup_candidate_pairs

    vecs = _hot_cluster_vectors()
    n = vecs.shape[0]
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)], ["vec_id", "embedding"]
    )
    common = dict(dim=16, n_bits=3, n_tables=4, scale=127)
    uncapped = neardup_candidate_pairs(df, bucket_cap=None, **common).count()
    capped = neardup_candidate_pairs(
        df, bucket_cap=30, extra_bits=8, probe_flips=False, **common
    ).count()
    probed = neardup_candidate_pairs(
        df, bucket_cap=30, extra_bits=8, probe_flips=True, **common
    ).count()
    # Hamming-<=2 probing recovers more candidates than the single-key split
    # but stays within the (1 + eb + eb(eb-1)/2) = 37x volume envelope of it
    assert capped <= probed <= 37 * capped + uncapped // 3
    assert capped <= 20 * n, f"capped candidates {capped} > 20n"
    assert uncapped > 3 * capped, f"cap did not bite: {uncapped} vs {capped}"


def test_lsh_bucket_cap_matches_duckdb(spark, tmp_path):
    """Cross-engine value check of the TRIGGERED refinement path: Spark
    cosine_neardup_pairs with a biting cap == DuckDB running the generated
    keyed-CTE SQL on the same parquet."""
    import duckdb

    from a5spark.entry_queries import _sql_lsh_keyed_ctes
    from a5spark.operators.similarity import cosine_neardup_pairs

    vecs = _hot_cluster_vectors(n_hot=150, n_rand=50)
    n = vecs.shape[0]
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)], ["vec_id", "embedding"]
    )
    pq = str(tmp_path / "emb.parquet")
    df.coalesce(1).write.parquet(pq)

    got = (
        cosine_neardup_pairs(
            df, dim=16, threshold_num=4, threshold_den=25,
            n_bits=3, n_tables=4, scale=127, bucket_cap=20, extra_bits=8,
            probe_flips=False,
        )
        .orderBy("id_a", "id_b")
        .collect()
    )
    keyed = _sql_lsh_keyed_ctes(
        n_bits=3, n_tables=4, dim=16, bucket_cap=20, extra_bits=8
    )
    sql = f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 127)) AS v
      FROM read_parquet('{pq}/*.parquet')
    ), n AS (
      SELECT vec_id, v, CAST(list_dot_product(v, v) AS BIGINT) AS n2 FROM qv
    ), {keyed},
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keyed a JOIN keyed b ON a.t = b.t AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    ), scored AS (
      SELECT p.id_a, p.id_b,
             CAST(list_dot_product(na.v, nb.v) AS BIGINT) AS qdot,
             na.n2 AS n2a, nb.n2 AS n2b
      FROM pairs p
      JOIN n na ON na.vec_id = p.id_a
      JOIN n nb ON nb.vec_id = p.id_b
    )
    SELECT id_a, id_b, qdot FROM scored
    WHERE qdot > 0 AND qdot * qdot * 25 >= 4 * n2a * n2b
    ORDER BY id_a, id_b
    """
    exp = duckdb.sql(sql).fetchall()
    assert [(r["id_a"], r["id_b"], r["qdot"]) for r in got] == exp
    assert len(exp) > 0  # the threshold keeps real near-dups


def test_ann_chunked_query_fleet_matches_broadcast(spark, monkeypatch):
    """quantized_topk with |Q| over the broadcast bound (forcing 4 hash
    chunks) returns exactly the single-broadcast result."""
    from a5spark.operators import util
    from a5spark.operators.similarity import quantized_topk

    vecs = _hot_cluster_vectors(n_hot=60, n_rand=40)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(vecs.shape[0])],
        ["vec_id", "embedding"],
    )
    queries = df.filter((df.vec_id % 3) == 0).select(
        df.vec_id.alias("q_id"), "embedding"
    )
    monkeypatch.setattr(util, "MAX_COLLECT_VECTORS", 10)
    big = quantized_topk(queries, df, k=3)
    monkeypatch.setattr(util, "MAX_COLLECT_VECTORS", 10**6)
    one = quantized_topk(queries, df, k=3)
    key = lambda r: (r["q_id"], r["rank"], r["vec_id"], r["qdot"])
    assert sorted(map(key, big.collect())) == sorted(map(key, one.collect()))


def test_pip_refine_chunked_large_layer(spark, monkeypatch):
    """pip_refine with a 10^5-polygon layer: the driver collect is chunked
    (5 hash chunks at a 20k polygon cap) and the result equals the
    single-broadcast path."""
    import json

    from a5spark.operators import util
    from a5spark.operators.polygons import pip_refine

    def box(i):
        lon = float((i * 7) % 340 - 170)
        lat = float((i * 13) % 160 - 80)
        return json.dumps(
            [[[lon, lat], [lon + 1.0, lat], [lon + 1.0, lat + 1.0], [lon, lat + 1.0]]]
        )

    n_poly = 100_000
    polys = spark.createDataFrame(
        [(f"p{i:06d}", box(i)) for i in range(n_poly)],
        ["polygon_id", "rings_json"],
    )
    # candidates: center point (inside) and a far point (outside) for 40 polys
    cand_rows = []
    for i in range(0, 4000, 100):
        lon = float((i * 7) % 340 - 170)
        lat = float((i * 13) % 160 - 80)
        cand_rows.append((f"p{i:06d}", f"in_{i}", lon + 0.5, lat + 0.5))
        cand_rows.append((f"p{i:06d}", f"out_{i}", lon + 5.0, lat + 0.5))
    cand = spark.createDataFrame(
        cand_rows, ["polygon_id", "point_id", "lon", "lat"]
    )
    monkeypatch.setattr(util, "MAX_COLLECT_POLYGONS", 20_000)
    chunked = pip_refine(cand, polys)
    monkeypatch.setattr(util, "MAX_COLLECT_POLYGONS", 10**9)
    single = pip_refine(cand, polys)
    key = lambda r: (r["polygon_id"], r["point_id"])
    got = sorted(map(key, chunked.collect()))
    exp = sorted(map(key, single.collect()))
    assert got == exp
    assert len(got) == 40  # exactly the inside points survive
    assert all(p.startswith("in_") for _, p in got)


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Streaming exact-dedup canonical mapping (applyInPandasWithState) must
    assign every doc the batch rule's canonical: min doc_id per content
    digest."""
    from pyspark.sql import functions as F

    from a5spark.operators.dedup import content_digest
    from a5spark.streaming.dedup import streaming_dedup

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt_dedup")
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the synthetic corpus has no exact dupes — inject copies of 20 docs
    # under fresh ids so the canonical mapping is exercised
    dupes = base.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    docs = base.unionByName(dupes)
    docs.write.mode("overwrite").parquet(src)

    stream_df = streaming_dedup(spark, src, docs.schema)
    q = (
        stream_df.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.doc_id, r.digest, r.canonical_id, r.is_dup)
        for r in spark.sql("SELECT * FROM stream_dedup").collect()
    }

    keyed = docs.select(
        F.col("doc_id"), content_digest(F.col("text")).alias("digest")
    )
    canon = keyed.groupBy("digest").agg(F.min("doc_id").alias("canonical_id"))
    batch = keyed.join(canon, "digest").select(
        "doc_id", "digest", "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).cast("int").alias("is_dup"),
    )
    want = {
        (r.doc_id, r.digest, r.canonical_id, r.is_dup) for r in batch.collect()
    }
    assert got == want
    assert len(got) == docs.count()
    assert any(r[3] == 1 for r in got)  # the corpus does contain duplicates


def test_uncompact_compact_res30_cover(spark):
    """Res-30 covers through the DISTRIBUTED ops: uncompact to 30 matches the
    kernel expansion, and compact folds it back to the original cover (the
    native bit expressions can't read res 30's variable-marker layout — this
    pins the kernel-UDF routing)."""
    from a5spark.kernels.cell import lonlat_to_cell
    from a5spark.kernels.compact import uncompact as kuncompact
    from a5spark.kernels.serialization import to_signed
    from a5spark.operators.spatial import compact_cover, uncompact_cover

    rng = np.random.default_rng(4)
    lon = rng.uniform(-180, 180, 6)
    lat = rng.uniform(-60, 60, 6)
    cells = np.unique(lonlat_to_cell(lon, lat, 28))
    df = spark.createDataFrame([(int(c),) for c in to_signed(cells)], ["cell"])

    fine = uncompact_cover(df, 30)
    got_fine = sorted(r["cell"] for r in fine.collect())
    exp_fine = sorted(int(v) for v in to_signed(kuncompact(cells, 30)))
    assert got_fine == exp_fine

    back = compact_cover(fine, resolution_bounds=(30, 30))
    got = sorted(r["cell"] for r in back.collect())
    assert got == sorted(int(c) for c in to_signed(cells))


def test_tile_binning_antimeridian(spark):
    """Antimeridian-straddling cells: points west of the antimeridian must
    bin into their true pixel columns (pre-fix they collapsed into column 0),
    and the Catalyst twin must stay bit-identical to the numpy renderer."""
    from pyspark.sql import functions as F

    from a5spark.kernels.cell import cell_to_boundary, lonlat_to_cell
    from a5spark.kernels.serialization import to_signed
    from a5spark.operators.spatial import assign_cells
    from a5spark.operators.tiles import hit_grid, render_tile, tile_pyramid

    cell = lonlat_to_cell(np.array([179.99]), np.array([10.0]), 4)
    ring = cell_to_boundary(cell)[0]
    assert ring[:, 0].max() > 180.0 or ring[:, 0].min() < -180.0  # straddles

    lon = np.array([179.95, -179.95])
    lat = np.array([10.0, 10.0])
    # both points belong to this cell
    enc = lonlat_to_cell(lon, lat, 4)
    assert (enc == cell[0]).all()
    g = hit_grid(lon, lat, ring, 16)
    ys, xs = np.nonzero(g)
    assert g.sum() == 2
    assert abs(int(xs.max()) - int(xs.min())) <= 2, (xs, ys)

    pdf = spark.createDataFrame(
        [(float(l), float(la)) for l, la in zip(lon, lat)], ["lon", "lat"]
    )
    img = assign_cells(pdf, 6)
    tiles = tile_pyramid(img, [4], tile_px=16)
    row = [r for r in tiles.collect() if r["cell"] == int(to_signed(cell)[0])]
    assert row
    grid = np.frombuffer(row[0]["tile"], dtype=np.uint8).reshape(16, 16)
    exp = render_tile(lon, lat, ring, 16)
    assert (grid == exp).all()


def test_ann_empty_query_fleet(spark):
    """An empty query fleet returns an empty result instead of crashing the
    driver-side np.stack."""
    from a5spark.operators.similarity import brute_force_topk, quantized_topk

    vecs = _hot_cluster_vectors(n_hot=10, n_rand=10)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(vecs.shape[0])],
        ["vec_id", "embedding"],
    )
    empty_q = df.filter(df.vec_id < 0).select(
        df.vec_id.alias("q_id"), "embedding"
    )
    assert quantized_topk(empty_q, df, k=3).count() == 0
    assert brute_force_topk(empty_q, df, k=3).count() == 0
