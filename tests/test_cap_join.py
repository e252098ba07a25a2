"""radius_join / knn_join: the driver-planned cap cover returns exactly the
rows of the executor-UDF cover it replaces under the fleet bound, and runs
no Python stage. The fallback is forced by setting
util.MAX_COLLECT_VECTORS to 0, which makes the fleet bound 0 queries."""

import numpy as np
import pandas as pd
import pytest

from a5spark.kernels.cell import lonlat_to_cell
from a5spark.kernels.serialization import get_resolution, to_signed
from a5spark.operators import knn, util
from a5spark.operators.knn import knn_join, radius_join

RES = 7


@pytest.fixture(scope="module")
def spark():
    from a5spark.session import get_spark

    s = get_spark("a5spark-test-cap-join", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _cells(lon, lat, res=RES):
    return to_signed(
        lonlat_to_cell(np.asarray(lon, np.float64), np.asarray(lat, np.float64), res)
    )


def _frame(spark, ids, lon, lat, id_col, res=RES, id_type="string"):
    """A (id, lon, lat, cell) frame with cells encoded on the driver, so the
    frame itself runs no Python on the executors."""
    pdf = pd.DataFrame({id_col: ids, "lon": lon, "lat": lat, "cell": _cells(lon, lat, res)})
    return spark.createDataFrame(
        pdf, f"{id_col} {id_type}, lon double, lat double, cell long"
    )


@pytest.fixture(scope="module")
def points(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    n = 3000
    lon, lat = rng.uniform(-10, 10, n), rng.uniform(-10, 10, n)
    path = str(tmp_path_factory.mktemp("cap_join") / "points")
    _frame(spark, [f"p{i:05d}" for i in range(n)], lon, lat, "image_id").write.parquet(path)
    return spark.read.parquet(path)


def _fleet(spark, ids, lon, lat, id_type="string"):
    return _frame(spark, ids, lon, lat, "query_id", id_type=id_type)


def _seeded_fleet(spark, id_type="string"):
    """12 queries; 4 share one cell and 2 share one point exactly."""
    rng = np.random.default_rng(5)
    lon, lat = list(rng.uniform(-9, 9, 8)), list(rng.uniform(-9, 9, 8))
    lon += [1.0, 1.0, 1.0001, 0.9999]
    lat += [2.0, 2.0, 2.0001, 1.9999]
    ids = list(range(100, 112)) if id_type == "long" else [f"q{i}" for i in range(12)]
    return _fleet(spark, ids, lon, lat, id_type)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both_paths(monkeypatch, build):
    """(driver-planned rows, executor-UDF rows, schemas) of one query."""
    driver = build()
    with monkeypatch.context() as m:
        m.setattr(util, "MAX_COLLECT_VECTORS", 0)
        fallback = build()
        fallback_rows = _rows(fallback)
    return _rows(driver), fallback_rows, (driver.schema, fallback.schema)


def _radius(queries, points, radius_m=150_000.0):
    return lambda: radius_join(queries, points, radius_m, resolution=RES)


def _knn(queries, points, k=5, **kw):
    return lambda: knn_join(queries, points, k, resolution=RES, **kw)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_seeded_fleet_with_duplicate_cells_matches_fallback(spark, points, monkeypatch, id_type):
    q = _seeded_fleet(spark, id_type)
    for build in (_radius(q, points), _knn(q, points)):
        driver, fallback, (s1, s2) = _both_paths(monkeypatch, build)
        assert driver == fallback
        assert len(driver) > 0
        assert s1 == s2


@pytest.mark.parametrize("first_round", ["driver", "udf"])
def test_sparse_table_second_knn_round_matches_fallback(spark, monkeypatch, first_round):
    """40 points 1-4 degrees apart plus a tight cluster around query "a": a
    1 km first round answers only "a". With a fleet cap of 2, the 3-query
    fleet starts on the UDF plan and its 2-query residual moves to the
    driver."""
    rng = np.random.default_rng(3)
    lon = np.concatenate([rng.uniform(-20, 20, 40), 0.001 * rng.standard_normal(10)])
    lat = np.concatenate([rng.uniform(-20, 20, 40), 0.001 * rng.standard_normal(10)])
    pts = _frame(spark, [f"s{i}" for i in range(50)], lon, lat, "image_id")
    q = _fleet(spark, ["a", "b", "c"], [0.0, 5.0, -7.0], [0.0, 5.0, 3.0])
    build = _knn(q, pts, k=3, initial_radius=1000.0, growth=8.0)
    planned = []
    real = knn._driver_covers
    monkeypatch.setattr(knn, "_driver_covers", lambda *a: planned.append(len(a[1])) or real(*a))
    if first_round == "udf":
        monkeypatch.setattr(
            util, "MAX_COLLECT_VECTORS", 128 * 2 * spark.sparkContext.defaultParallelism
        )
    driver, fallback, _ = _both_paths(monkeypatch, build)
    assert driver == fallback
    assert len(driver) == 9
    assert max(r[-2] for r in driver if r[4] == "a") < 1000.0
    assert min(r[-2] for r in driver if r[4] != "a") > 8000.0  # past round 2
    assert planned[0] == (3 if first_round == "driver" else 2)


def test_cap_cover_matches_cap_then_uncompact_per_cell():
    """_cap_cover, batched over mixed resolutions and radii, equals each
    cell's own spherical cap uncompacted to the cell's resolution."""
    from a5spark.kernels.compact import uncompact
    from a5spark.kernels.traversal import spherical_cap_batch

    rng = np.random.default_rng(2)
    lon, lat = rng.uniform(-180, 180, 30), rng.uniform(-80, 80, 30)
    cells = np.concatenate(
        [lonlat_to_cell(lon[i::3], lat[i::3], res) for i, res in enumerate((3, 5, 7))]
    )
    radii = np.where(np.arange(30) % 2 == 0, 200_000.0, 900_000.0)
    row, cover = knn._cap_cover(cells, radii)
    for i, (c, r) in enumerate(zip(cells, radii)):
        _, cap = spherical_cap_batch(cells[i : i + 1], r)
        want = uncompact(cap, int(get_resolution(cells[i : i + 1])[0]))
        assert np.array_equal(cover[row == i], want)


def test_antipodal_neighbors_match_fallback(spark, monkeypatch):
    lon = [10.0 + 0.1 * i for i in range(2)] + [-170.0 + 0.1 * i for i in range(5)]
    lat = [10.0] * 2 + [-10.0] * 5
    ids = [f"near_{i}" for i in range(2)] + [f"anti_{i}" for i in range(5)]
    pts = _frame(spark, ids, lon, lat, "image_id", res=5)
    q = _frame(spark, ["q0"], [10.0], [10.0], "query_id", res=5)
    driver, fallback, _ = _both_paths(
        monkeypatch, lambda: knn_join(q, pts, 5, resolution=5, point_id="image_id")
    )
    assert driver == fallback
    assert len([r for r in driver if r[0].startswith("anti_")]) == 3


def test_null_query_row_is_dropped_on_both_paths(spark, points, monkeypatch):
    q = _fleet(spark, ["a", "b"], [1.0, 2.0], [1.0, 2.0]).unionByName(
        spark.createDataFrame(
            [("n", None, None, None)], "query_id string, lon double, lat double, cell long"
        )
    )
    for build in (_radius(q, points), _knn(q, points)):
        driver, fallback, _ = _both_paths(monkeypatch, build)
        assert driver == fallback
        assert {r[4] for r in driver} == {"a", "b"}


def test_empty_fleet_is_an_empty_frame_with_the_fallback_schema(spark, points, monkeypatch):
    empty = _fleet(spark, ["a"], [1.0], [1.0]).limit(0)
    nonempty = _fleet(spark, ["a"], [1.0], [1.0])
    for make in (_radius, _knn):
        got = make(empty, points)()
        assert got.collect() == []
        with monkeypatch.context() as m:
            m.setattr(util, "MAX_COLLECT_VECTORS", 0)
            fallback = make(nonempty, points)()
        assert got.schema == fallback.schema


def test_radius_join_runs_no_python_stage_and_three_jobs(spark, points):
    q = _seeded_fleet(spark).limit(8)
    sc = spark.sparkContext
    sc.setJobGroup("cap-join-radius", "radius_join on an 8-query fleet")
    try:
        out = radius_join(q, points, 150_000.0, resolution=RES)
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(sc.statusTracker().getJobIdsForGroup("cap-join-radius")) <= 3
