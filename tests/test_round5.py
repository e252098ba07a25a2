"""Round-5 tests: cell-clustered data layout (file + row-group pruning),
driver-side key math parity with the native expressions, the range-join
fallback strategy, the IVF hot-list skew witness, and the import-gated
Pillow codec path."""

import os
import shutil
from functools import reduce

import numpy as np
import pytest

SF_DIR = os.environ.get("A5_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from a5spark.session import get_spark

    s = get_spark("a5spark-round5-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# --- driver-side key math must agree with the Catalyst expressions ----------


def test_layout_key_helpers_match_native(spark):
    """layout.cell_key_py / cell_range_keys / cell_resolution_py are the
    driver-side twins of native.shifted_key / cell_range_lo/hi /
    cell_resolution — they MUST agree bit-for-bit on real cells, including
    sign-bit (southern-hemisphere) ids."""
    from pyspark.sql import functions as F

    from a5spark.functions import native
    from a5spark.kernels.cell import lonlat_to_cell
    from a5spark.kernels.serialization import to_signed
    from a5spark.operators import layout

    lons = np.array([-0.1276, 139.76, -73.98, 18.42, 100.0])
    lats = np.array([51.5074, 35.68, 40.75, -33.92, -80.0])
    rows = []
    for res in (2, 4, 9, 15, 29):
        for c in to_signed(lonlat_to_cell(lons, lats, res)):
            rows.append((int(c), res))
    assert any(c < 0 for c, _ in rows), "need sign-bit cells"
    df = spark.createDataFrame(rows, ["cell", "res"]).coalesce(1)
    out = df.select(
        "cell",
        "res",
        native.shifted_key(F.col("cell")).alias("key"),
        native.cell_range_lo(F.col("cell"), F.col("res")).alias("lo"),
        native.cell_range_hi(F.col("cell"), F.col("res")).alias("hi"),
        native.cell_resolution(F.col("cell")).alias("nres"),
    ).collect()
    for r in out:
        assert r.key == layout.cell_key_py(r.cell)
        assert layout.cell_resolution_py(r.cell) == r.res == r.nres
        lo, hi = layout.cell_range_keys(r.cell)
        assert (lo, hi) == (r.lo, r.hi)
        assert lo <= r.key <= hi  # a cell lies inside its own range


def test_merge_key_ranges_collapses_siblings():
    """All four children of a parent merge into exactly the parent's range;
    disjoint covers stay disjoint."""
    from a5spark.functions import native  # noqa: F401 (doc cross-ref)
    from a5spark.kernels.compact import uncompact
    from a5spark.kernels.serialization import res0_cells
    from a5spark.operators import layout

    parent = uncompact(np.array(res0_cells()[:1], dtype=np.uint64), 4)[10]
    children = uncompact(np.array([parent], dtype=np.uint64), 5)
    merged = layout.merge_key_ranges(
        layout.cell_range_keys(int(c)) for c in children
    )
    assert merged == [layout.cell_range_keys(int(parent))]
    far = uncompact(np.array(res0_cells()[7:8], dtype=np.uint64), 4)[0]
    two = layout.cover_key_ranges([int(parent), int(far)])
    assert len(two) == 2


# --- the layout itself: write, manifest, file + row-group pruning -----------

_LAYOUT_DIR = "/tmp/a5spark_test/cell_layout_r5"


def _build_layout(spark, n_files=8, replicate=10, path=_LAYOUT_DIR):
    """Replicated sf0.001 lineitem (enough bytes for multiple row groups at
    a 64 KiB parquet block size) written as a cell-clustered layout."""
    from pyspark.sql import functions as F

    from a5spark.entry_queries import _spark_cell9
    from a5spark.operators import layout

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("__r")
    big = li.select("l_orderkey", "l_quantity", rep).drop("__r")
    df = _spark_cell9(big).select("cell", "l_quantity")
    manifest = layout.write_cell_layout(
        df,
        path,
        cell="cell",
        n_files=n_files,
        write_options={"parquet.block.size": "65536"},
    )
    return manifest


def test_layout_pruned_scan_evidence_and_parity(spark):
    """The core 100x-scale claim, asserted: a coarse cover scan over the
    cell-sorted layout (a) opens a strict subset of files (manifest prune,
    verified against the files Spark actually reads), (b) needs only a
    strict subset of row groups (parquet min-max stats over sorted keys),
    (c) pushes the range disjunction into the parquet scan, and (d) returns
    exactly the rows a full scan + filter returns."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from a5spark.entry_queries import _LAYOUT_COVER
    from a5spark.operators import layout

    manifest = _build_layout(spark)
    assert manifest["source"] == "footer"
    total_rows = sum(e["rows"] for e in manifest["files"])
    assert sum(e["row_groups"] for e in manifest["files"]) > len(
        manifest["files"]
    ), "need multiple row groups per file for the row-group evidence"

    scanned, stats = layout.scan_cell_layout(spark, _LAYOUT_DIR, _LAYOUT_COVER)
    assert stats["strategy"] == "predicate"
    assert 0 < stats["files_selected"] < stats["files_total"]
    assert stats["rows_in_selected_files"] < total_rows
    # Spark's plan reads exactly the manifest-selected files
    assert len(scanned.inputFiles()) == stats["files_selected"]
    # the range disjunction reaches the parquet scan
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "cell_key" in plan

    # row-group level: among selected files, the cover ranges intersect a
    # strict subset of row groups (sorted data -> narrow per-group ranges)
    ranges = layout.cover_key_ranges(_LAYOUT_COVER)
    inter = tot = 0
    for e in layout._select_files(manifest, ranges):
        md = pq.ParquetFile(os.path.join(_LAYOUT_DIR, e["file"])).metadata
        ci = {md.schema.column(i).name: i for i in range(md.num_columns)}["cell_key"]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            tot += 1
            if any(int(st.min) <= hi and int(st.max) >= lo for lo, hi in ranges):
                inter += 1
    assert 0 < inter < tot, f"row-group prune shows nothing ({inter}/{tot})"

    # exactness: pruned scan == full scan + same predicate
    full = spark.read.parquet(_LAYOUT_DIR)
    pred = reduce(
        lambda a, b: a | b,
        [F.col("cell_key").between(lo, hi) for lo, hi in ranges],
    )
    got = sorted(tuple(r) for r in scanned.collect())
    want = sorted(tuple(r) for r in full.filter(pred).collect())
    assert got == want and len(got) > 0


def test_layout_range_join_fallback_parity(spark):
    """A cover more fragmented than max_predicate_ranges routes through the
    broadcast range join; the answer must be identical to the predicate
    strategy (file pruning still applies in both)."""
    from a5spark.operators import layout

    if not os.path.isdir(_LAYOUT_DIR):
        _build_layout(spark)
    # 6 single-cell ranges at res 5 inside q=0..2 (fragmented on purpose:
    # non-adjacent t's so merge can't collapse them)
    cover = [
        (q << 58) | (t << 52) | (s << 50) | (1 << 49)
        for q, t, s in ((0, 0, 1), (0, 0, 3), (1, 7, 0), (1, 7, 2), (2, 7, 1), (2, 7, 3))
    ]
    for c in cover:
        assert layout.cell_resolution_py(c) == 5
    df_p, st_p = layout.scan_cell_layout(spark, _LAYOUT_DIR, cover)
    df_j, st_j = layout.scan_cell_layout(
        spark, _LAYOUT_DIR, cover, max_predicate_ranges=2
    )
    assert st_p["strategy"] == "predicate" and st_j["strategy"] == "range_join"
    assert st_p["files_selected"] == st_j["files_selected"]
    got = sorted(tuple(r) for r in df_j.collect())
    want = sorted(tuple(r) for r in df_p.collect())
    assert got == want and len(got) > 0


def test_layout_miss_returns_empty(spark):
    """A cover range with no matching rows (t=10 never occurs for q=3 in the
    orderkey-structured S distribution) selects files — the file's [min,max]
    spans the gap — but the pushed predicate matches nothing; and a cover
    outside every file range selects nothing at file level."""
    from a5spark.operators import layout

    if not os.path.isdir(_LAYOUT_DIR):
        _build_layout(spark)
    gap_cover = [(3 << 58) | (10 << 52) | (1 << 51)]
    df, stats = layout.scan_cell_layout(spark, _LAYOUT_DIR, gap_cover)
    assert df.count() == 0
    # synthetic manifest check: ranges beyond all files select no files
    manifest = layout.read_manifest(spark, _LAYOUT_DIR)
    hi_all = max(e["hi"] for e in manifest["files"])
    assert layout._select_files(manifest, [(hi_all + 1, hi_all + 100)]) == []


# --- IVF hot-list skew witness ----------------------------------------------


def test_ivf_skew_witness(spark):
    """One inverted list holding 50% of all points (the hot-list regime the
    ivf_topk docstring names as the AQE skew case): with external centroids
    the assignment is verifiable in numpy — assert the skew is real — and
    hot-direction queries must still return EXACTLY the quantized
    brute-force top-k (their true neighbors all live in the probed hot
    list). The candidate join must stay an equi-join (no cartesian /
    nested-loop in the plan). At this scale the hot list is one broadcast-
    join partition — no split needed; at cluster scale the same plan under
    spark.sql.adaptive.skewJoin splits the hot partition automatically,
    which is the measured justification recorded in PLANS.md."""
    from a5spark.operators.similarity import _np_quantize, ivf_topk, quantized_topk

    dim, n_pts, n_hot = 8, 500, 250
    rng_jit = [(i * 37) % 97 for i in range(n_pts)]
    pts = []
    for i in range(n_pts):
        v = [0.0] * dim
        if i < n_hot:
            v[0] = 1.0
            v[1] = rng_jit[i] * 1e-4
        else:
            d = 1 + (i % 7)
            v[d] = 1.0
            v[(d + 1) % dim] = rng_jit[i] * 1e-4
        pts.append((i, v))
    centroids = [(j, [1.0 if d == j else 0.0 for d in range(dim)]) for j in range(dim)]

    # the fixture IS skewed: numpy argmax assignment puts 50% in list 0
    c_mat = _np_quantize(np.array([v for _, v in centroids]), 1000)
    p_mat = _np_quantize(np.array([v for _, v in pts]), 1000)
    assign = np.argmax(p_mat @ c_mat.T, axis=1)
    frac = float((assign == 0).mean())
    assert frac >= 0.45, f"hot list holds {frac:.0%}, fixture not skewed"

    queries = [(1000 + j, [1.0] + [j * 1e-4] + [0.0] * (dim - 2)) for j in range(5)]
    pdf = spark.createDataFrame(pts, ["vec_id", "embedding"])
    qdf = spark.createDataFrame(queries, ["q_id", "embedding"])
    got = ivf_topk(
        qdf, pdf, k=10, dim=dim, n_lists=dim, n_probe=1,
        centroids=centroids, lloyd_iters=0,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got_rows = sorted(
        (r.q_id, r.rank, r.vec_id, r.qdot) for r in got.collect()
    )
    want_rows = sorted(
        (r.q_id, r.rank, r.vec_id, r.qdot)
        for r in quantized_topk(qdf, pdf, k=10).collect()
    )
    assert got_rows == want_rows and len(got_rows) == 50


# --- import-gated Pillow codec path -----------------------------------------


def test_codec_decode_via_pillow_when_installed():
    """Activates only when Pillow exists (absent in this sandbox): a JPEG
    round-trips through the SAME decode kernel the rgb8 path uses (lossy —
    shape and dtype only), so every image operator gains codec support with
    no other change. PNG no longer needs Pillow — it has a stdlib codec
    (tests/test_round6.py)."""
    pytest.importorskip("PIL")
    from a5spark.operators.multimodal import decode_image, encode_image

    px = (np.arange(48 * 32 * 3, dtype=np.uint64) * 7919 % 256).astype(np.uint8)
    px = px.reshape(32, 48, 3)
    data = encode_image(px, "jpeg")
    out = decode_image(data, 48, 32, "jpeg")
    assert out.shape == (32, 48, 3) and out.dtype == np.uint8


def test_codec_jpeg_decodes_without_pillow():
    """Round 7: jpeg no longer needs Pillow — the stdlib baseline codec
    (kernels/jpeg.py) round-trips through the same decode kernel every
    image operator uses."""
    from a5spark.operators.multimodal import decode_image, encode_image, psnr

    px = (np.arange(48 * 32 * 3, dtype=np.uint64) * 7919 % 256).astype(np.uint8)
    px = px.reshape(32, 48, 3)
    out = decode_image(encode_image(px, "jpeg"), 48, 32, "jpeg")
    assert out.shape == (32, 48, 3) and out.dtype == np.uint8
    assert psnr(px, out) >= 40.0


def teardown_module(module):
    shutil.rmtree("/tmp/a5spark_test", ignore_errors=True)


# --- cell-bucketed co-located join ------------------------------------------


def test_bucketed_join_is_exchange_free_and_exact(spark):
    """Two tables bucketed by cell with the same bucket count must join AND
    aggregate with zero Exchange operators (scan → SortMergeJoin → agg all
    reuse the bucket partitioning), and the result must match the plain
    shuffle join bit-for-bit. Broadcast is pinned off so the asserted plan
    is the big×big shape a 100 TB deployment gets."""
    from pyspark.sql import functions as F

    from a5spark.operators.bucketing import (
        bucketed_join,
        count_exchanges,
        write_bucketed_table,
    )

    df = spark.range(20000).select(
        (F.col("id") % 211).alias("cell"),
        F.col("id").alias("k"),
        (F.col("id") % 13 + 1).alias("v"),
    )
    a = df.filter(F.col("k") % 2 == 0)
    b = df.filter(F.col("k") % 2 == 1).withColumnRenamed("v", "w").withColumnRenamed("k", "k2")
    write_bucketed_table(a, "t_r5_a", n_buckets=8, path="/tmp/a5spark_r5/bk_a")
    write_bucketed_table(b, "t_r5_b", n_buckets=8, path="/tmp/a5spark_r5/bk_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v") * F.col("w")).alias("s"),
            F.min("k").alias("mk"),
        ]
        got = bucketed_join(spark, "t_r5_a", "t_r5_b").groupBy("cell").agg(*agg)
        assert count_exchanges(got) == 0, got._jdf.queryExecution().executedPlan().toString()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        want = (
            spark.read.parquet("/tmp/a5spark_r5/bk_a")
            .join(spark.read.parquet("/tmp/a5spark_r5/bk_b"), "cell")
            .groupBy("cell")
            .agg(*agg)
        )
        assert count_exchanges(want) >= 1  # the layout is what removed them
        got_rows = sorted(map(tuple, got.collect()))
        want_rows = sorted(map(tuple, want.collect()))
        assert got_rows == want_rows and len(got_rows) == 211
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_rejects_stale_metadata(spark):
    """Re-writing a bucketed table with a different bucket count must not
    leave the catalog claiming the old count (the classic external-table
    overwrite trap — wrong bucket metadata silently yields WRONG join
    results in Spark, not an error)."""
    from pyspark.sql import functions as F

    from a5spark.operators.bucketing import write_bucketed_table

    df = spark.range(100).select((F.col("id") % 7).alias("cell"), F.col("id").alias("v"))
    write_bucketed_table(df, "t_r5_c", n_buckets=4, path="/tmp/a5spark_r5/bk_c")
    write_bucketed_table(df, "t_r5_c", n_buckets=8, path="/tmp/a5spark_r5/bk_c")
    desc = spark.sql("DESCRIBE EXTENDED t_r5_c").collect()
    txt = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
    assert "8" in [r.data_type for r in desc if r.col_name == "Num Buckets"], txt


# --- layout maintenance: OPTIMIZE-style small-file bin-packing --------------


def test_optimize_cell_layout_binpacks_and_preserves_scans(spark):
    """optimize_cell_layout merges adjacent small files into target-size
    files WITHOUT breaking the clustering invariants: the manifest stays
    sorted and key-disjoint, rewritten files are internally key-sorted, a
    cover scan before and after returns identical rows with file pruning
    still biting, and a re-run on the packed layout is a no-op."""
    import pyarrow.parquet as pq

    from a5spark.entry_queries import _LAYOUT_COVER
    from a5spark.operators import layout

    d = "/tmp/a5spark_test/cell_layout_r5_opt"
    shutil.rmtree(d, ignore_errors=True)
    before = _build_layout(spark, n_files=16, path=d)
    sizes = [e["bytes"] for e in before["files"]]
    assert all(s > 0 for s in sizes)
    rows_total = sum(e["rows"] for e in before["files"])
    scan_before, st_before = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    want = sorted(tuple(r) for r in scan_before.collect())
    assert len(want) > 0 and 0 < st_before["files_selected"] < 16

    # every file is "small": pack ~4 originals per output file
    target = int(sum(sizes) / 4 * 1.05)
    stats = layout.optimize_cell_layout(
        spark, d, target_file_bytes=target, min_file_bytes=max(sizes) + 1,
        write_options={"parquet.block.size": "65536"},
    )
    after = layout.read_manifest(spark, d)
    assert stats["files_before"] == 16
    assert stats["files_after"] == len(after["files"]) < 16
    # a trailing 1-file run may legitimately stay (bins need >= 2 files)
    assert stats["files_rewritten"] >= 14
    assert stats["files_after"] == 16 - stats["files_rewritten"] + stats["bins"]
    assert stats["vacuumed"] == 0  # clean layout had nothing to reclaim
    # on-disk file set == manifest file set (old files deleted, tmp cleaned)
    on_disk = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert on_disk == sorted(e["file"] for e in after["files"])
    assert not os.path.exists(f"{d}/_optimize_tmp")
    # invariants: sorted, pairwise-disjoint manifest; sizes recorded; rows kept
    files = after["files"]
    assert all(files[i]["hi"] < files[i + 1]["lo"] for i in range(len(files) - 1))
    assert sum(e["rows"] for e in files) == rows_total
    assert all(e["bytes"] > 0 for e in files)
    # each rewritten file is internally key-sorted (row-group stats suffice:
    # sorted data => consecutive groups have non-overlapping, increasing ranges)
    for e in files:
        md = pq.ParquetFile(os.path.join(d, e["file"])).metadata
        ci = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            after["key_col"]
        ]
        prev_hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            assert st.has_min_max
            if prev_hi is not None:
                assert int(st.min) >= prev_hi
            prev_hi = int(st.max)
        tbl = pq.read_table(os.path.join(d, e["file"]), columns=[after["key_col"]])
        ks = tbl.column(0).to_numpy()
        assert (np.diff(ks) >= 0).all()
    # scan parity + pruning still active on the packed layout
    scan_after, st_after = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    got = sorted(tuple(r) for r in scan_after.collect())
    assert got == want
    assert 0 < st_after["files_selected"] < st_after["files_total"]
    # idempotence: everything is now >= the default small-file threshold
    again = layout.optimize_cell_layout(spark, d, target_file_bytes=target)
    assert again["bins"] == 0 and again["files_after"] == stats["files_after"]
    shutil.rmtree(d, ignore_errors=True)


# --- GIS export: WKT / GeoJSON serialization of boundaries ------------------


def test_wkt_geojson_roundtrip_and_fixed_parity(spark):
    """The float WKT/GeoJSON builders (functions/gis.py) round-trip through
    the WKT parser within the printed precision, the GeoJSON is valid JSON
    with matching coordinates, and the fixed-point WKT (what the
    boundary_wkt oracle hashes) equals the driver-side truncation exactly.
    Degenerate rings serialize as POLYGON EMPTY."""
    import json as _json

    from pyspark.sql import functions as F

    from a5spark.functions import gis
    from a5spark.functions.udfs import a5_cell_to_boundary
    from a5spark.kernels.cell import lonlat_to_cell
    from a5spark.kernels.serialization import to_signed

    lons = np.array([-0.1276, 139.76, -73.98, 18.42, 100.0, 0.0])
    lats = np.array([51.5074, 35.68, 40.75, -33.92, -80.0, 0.0])
    cells = [int(c) for c in to_signed(lonlat_to_cell(lons, lats, 7))]
    df = spark.createDataFrame([(c,) for c in cells], ["cell"]).coalesce(1)
    out = (
        df.select("cell", a5_cell_to_boundary(F.col("cell")).alias("ring"))
        .select(
            "cell",
            "ring",
            gis.ring_to_wkt(F.col("ring")).alias("wkt"),
            gis.ring_to_wkt_fixed(F.col("ring")).alias("wkt_fp"),
            gis.ring_to_geojson(F.col("ring")).alias("gj"),
            gis.wkt_polygon_ring(gis.ring_to_wkt(F.col("ring"))).alias("ring_rt"),
        )
        .collect()
    )
    assert len(out) == len(cells)
    for r in out:
        ring = np.array(r.ring)
        assert ring.shape[0] >= 4 and (ring[0] == ring[-1]).all()  # closed
        assert r.wkt.startswith("POLYGON ((") and r.wkt.endswith("))")
        rt = np.array(r.ring_rt)
        assert rt.shape == ring.shape
        assert np.abs(rt - ring).max() <= 6e-8
        g = _json.loads(r.gj)
        assert g["type"] == "Polygon"
        gc = np.array(g["coordinates"][0])
        assert gc.shape == ring.shape
        assert np.abs(gc - ring).max() <= 6e-8
        pts = ", ".join(f"{int(p[0] * 1e7)} {int(p[1] * 1e7)}" for p in ring)
        assert r.wkt_fp == f"POLYGON (({pts}))"
    empty = (
        spark.createDataFrame([([],)], "ring: array<array<double>>")
        .select(
            gis.ring_to_wkt(F.col("ring")).alias("w"),
            gis.ring_to_wkt_fixed(F.col("ring")).alias("wf"),
            gis.wkt_polygon_ring(F.lit("not wkt")).alias("bad"),
        )
        .collect()[0]
    )
    assert empty.w == "POLYGON EMPTY" and empty.wf == "POLYGON EMPTY"
    assert empty.bad == []


def test_optimize_crash_windows_and_vacuum(spark):
    """The per-bin manifest commit is the commit point: an unreferenced
    data file in the layout dir (what either crash window can leave) does
    not affect manifest-routed scans, and vacuum — run automatically at the
    start of each optimize — reclaims it."""
    from a5spark.entry_queries import _LAYOUT_COVER
    from a5spark.operators import layout

    d = "/tmp/a5spark_test/cell_layout_r5_crash"
    shutil.rmtree(d, ignore_errors=True)
    _build_layout(spark, n_files=4, path=d)
    scan0, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    want = sorted(tuple(r) for r in scan0.collect())
    assert len(want) > 0
    src = layout.read_manifest(spark, d)["files"][0]["file"]
    shutil.copyfile(f"{d}/{src}", f"{d}/opt-deadbeef.parquet")
    scan1, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    assert sorted(tuple(r) for r in scan1.collect()) == want
    removed = layout.vacuum_cell_layout(spark, d)
    assert removed == ["opt-deadbeef.parquet"]
    assert not os.path.exists(f"{d}/opt-deadbeef.parquet")
    shutil.rmtree(d, ignore_errors=True)


def test_boundary_udf_low_resolutions_match_reference(spark):
    """res 0 (dodecahedron face) and res 1 (quintant) boundaries flow
    through the Spark surface and match the reference (the UDF previously
    returned [] below res 2; only WORLD_CELL, res -1, is genuinely
    unbounded — reference core/cell.py:275-277). The reference rings are
    the golden vectors in tests/golden/boundary_res01.json; when an a5
    checkout is present the file itself is re-verified against it."""
    import json

    from pyspark.sql import functions as F

    from a5spark.functions.udfs import a5_cell_to_boundary
    from a5spark.kernels.compact import uncompact
    from a5spark.kernels.serialization import res0_cells, to_signed
    from tests.conftest import REFERENCE_ROOT, reference_available

    golden_path = os.path.join(os.path.dirname(__file__), "golden", "boundary_res01.json")
    with open(golden_path) as f:
        golden = json.load(f)["boundaries"]
    r0 = np.array(res0_cells()[:4], dtype=np.uint64)
    r1 = uncompact(r0[:2], 1)
    unsigned = np.concatenate([r0, r1])
    want = {int(c): np.array(golden[format(int(c), "016x")]) for c in unsigned}
    assert len(want) == len(golden)
    if reference_available():
        import sys

        sys.path.insert(0, REFERENCE_ROOT)
        from a5.core.cell import cell_to_boundary as ref

        for c, ring in want.items():
            assert np.abs(np.array(ref(c)) - ring).max() < 1e-12

    cells = [int(c) for c in to_signed(unsigned)] + [0]
    df = spark.createDataFrame([(c,) for c in cells], ["cell"]).coalesce(1)
    rows = {
        r.cell: r.ring
        for r in df.select(
            "cell", a5_cell_to_boundary(F.col("cell")).alias("ring")
        ).collect()
    }
    assert rows[0] == []  # WORLD_CELL
    for c_signed, c_unsigned in zip(cells[:-1], unsigned):
        got = np.array(rows[c_signed])
        assert got.shape == want[int(c_unsigned)].shape
        assert np.abs(got - want[int(c_unsigned)]).max() < 1e-12


def test_streaming_append_and_optimize_lifecycle(spark):
    """Full layout lifecycle: base write -> availableNow stream appends
    micro-batches through the foreachBatch sink -> pruned scans stay exact
    over base+appended rows -> a replayed batch id is a no-op (the
    exactly-once commit) -> optimize restores locality -> vacuum finds
    nothing."""
    from pyspark.sql import functions as F

    from a5spark.entry_queries import _LAYOUT_COVER, _spark_cell9
    from a5spark.operators import layout

    d = "/tmp/a5spark_test/cell_layout_r5_append"
    src, ckpt = f"{d}_src", f"{d}_ckpt"
    for p in (d, src, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = _spark_cell9(li).select("cell", "l_quantity")
    base = df.filter(F.col("l_quantity") <= 25)
    extra = df.filter(F.col("l_quantity") > 25)
    layout.write_cell_layout(base, d, cell="cell", n_files=4)
    extra.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(extra.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = layout.stream_append_cell_layout(stream, d, ckpt, n_files=2)
    q.awaitTermination(180)

    man = layout.read_manifest(spark, d)
    n_batches = len(man.get("batches", []))
    assert n_batches >= 2, f"expected multiple micro-batches, got {n_batches}"
    total_rows = sum(e["rows"] for e in man["files"])
    assert total_rows == df.count()

    from a5spark.functions import native

    keyed = df.withColumn("cell_key", native.shifted_key(F.col("cell")))
    ranges = layout.cover_key_ranges(_LAYOUT_COVER)
    pred = reduce(
        lambda a, b: a | b,
        [F.col("cell_key").between(lo, hi) for lo, hi in ranges],
    )
    want = sorted(tuple(r) for r in keyed.filter(pred).collect())
    scanned, stats = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    assert sorted(tuple(r) for r in scanned.collect()) == want
    assert 0 < stats["files_selected"] <= stats["files_total"]

    # replaying an already-committed batch id must be a no-op
    replay = layout.append_cell_layout(extra.limit(10), d, batch_id=0)
    assert replay["skipped"] and replay["appended_files"] == 0
    man2 = layout.read_manifest(spark, d)
    assert man2["files"] == man["files"] and man2["batches"] == man["batches"]

    # optimize the accreted small files; scans stay exact; vacuum is clean
    total_bytes = sum(e["bytes"] for e in man2["files"])
    stats_opt = layout.optimize_cell_layout(
        spark, d, target_file_bytes=total_bytes + 1,
        min_file_bytes=max(e["bytes"] for e in man2["files"]) + 1,
    )
    assert stats_opt["files_after"] < stats_opt["files_before"]
    scanned2, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    assert sorted(tuple(r) for r in scanned2.collect()) == want
    assert layout.vacuum_cell_layout(spark, d) == []
    man3 = layout.read_manifest(spark, d)
    assert sum(e["rows"] for e in man3["files"]) == total_rows
    assert man3["batches"] == man["batches"]  # ingestion history survives
    for p in (d, src, ckpt):
        shutil.rmtree(p, ignore_errors=True)


def test_polyfill_cover_wkt_matches_json_rings(spark):
    """A WKT polygon layer (holes included) polyfills identically to the
    same layer supplied as JSON rings; unparseable WKT rows drop out."""
    import json as _json

    from pyspark.sql import functions as F

    from a5spark.operators.polygons import polyfill_cover, polyfill_cover_wkt

    quad = [[-0.5, 51.2], [0.3, 51.2], [0.3, 51.7], [-0.5, 51.7], [-0.5, 51.2]]
    outer = [[12.0, 40.0], [16.0, 40.0], [16.0, 44.0], [12.0, 44.0], [12.0, 40.0]]
    hole = [[13.0, 41.0], [15.0, 41.0], [15.0, 43.0], [13.0, 43.0], [13.0, 41.0]]

    def wkt_of(rings):
        return "POLYGON (" + ", ".join(
            "(" + ", ".join(f"{p[0]} {p[1]}" for p in ring) + ")" for ring in rings
        ) + ")"

    layers = [("quad", [quad]), ("holed", [outer, hole])]
    jdf = spark.createDataFrame(
        [(pid, _json.dumps(rings)) for pid, rings in layers],
        ["polygon_id", "rings_json"],
    )
    wdf = spark.createDataFrame(
        [(pid, wkt_of(rings)) for pid, rings in layers]
        + [("garbage", "LINESTRING (0 0, 1 1)")],
        ["polygon_id", "wkt"],
    )
    want = sorted(tuple(r) for r in polyfill_cover(jdf, 7).collect())
    got = sorted(tuple(r) for r in polyfill_cover_wkt(wdf, 7).collect())
    assert got == want and len(want) > 0
    assert not any(r[0] == "garbage" for r in got)
    # the hole actually bites: holed cover != outer-only cover
    outer_only = spark.createDataFrame(
        [("holed", _json.dumps([outer]))], ["polygon_id", "rings_json"]
    )
    no_hole = sorted(tuple(r) for r in polyfill_cover(outer_only, 9).collect())
    holed9 = sorted(
        tuple(r)
        for r in polyfill_cover_wkt(
            wdf.filter(F.col("polygon_id") == "holed"), 9
        ).collect()
    )
    assert len(holed9) > 0 and holed9 != no_hole


def test_layout_time_travel_and_retention_vacuum(spark):
    """Versioned manifest commits: optimize(retain_old=True) leaves a
    reader pinned to the pre-maintenance version a fully consistent view
    (snapshot isolation), time travel reproduces the old answer exactly,
    and vacuum with a 1-version window reclaims the superseded files and
    prunes expired version logs."""
    from a5spark.entry_queries import _LAYOUT_COVER
    from a5spark.operators import layout

    d = "/tmp/a5spark_test/cell_layout_r5_tt"
    shutil.rmtree(d, ignore_errors=True)
    man0 = _build_layout(spark, n_files=6, path=d)
    assert man0["version"] == 0
    scan0, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    want = sorted(tuple(r) for r in scan0.collect())
    assert len(want) > 0
    sizes = [e["bytes"] for e in man0["files"]]

    stats = layout.optimize_cell_layout(
        spark, d, target_file_bytes=sum(sizes) + 1,
        min_file_bytes=max(sizes) + 1, retain_old=True,
    )
    assert stats["bins"] >= 1 and stats["files_rewritten"] == 6
    man1 = layout.read_manifest(spark, d)
    assert man1["version"] == stats["bins"]  # one version per bin commit
    old_names = {e["file"] for e in man0["files"]}
    assert all(os.path.exists(f"{d}/{n}") for n in old_names)  # retained

    # pinned reader: the pre-maintenance version still answers, identically
    scan_v0, st_v0 = layout.scan_cell_layout(spark, d, _LAYOUT_COVER, version=0)
    assert st_v0["version"] == 0
    assert sorted(tuple(r) for r in scan_v0.collect()) == want
    scan_cur, st_cur = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    assert st_cur["version"] == man1["version"]
    assert sorted(tuple(r) for r in scan_cur.collect()) == want

    # retention vacuum: superseded files reclaimed, expired versions pruned
    removed = layout.vacuum_cell_layout(spark, d, retain_versions=1)
    new_names = {e["file"] for e in man1["files"]}
    assert set(removed) == old_names - new_names
    assert not any(os.path.exists(f"{d}/{n}") for n in set(removed))
    with pytest.raises(Exception):
        layout.read_manifest(spark, d, version=0)
    scan_after, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    assert sorted(tuple(r) for r in scan_after.collect()) == want
    shutil.rmtree(d, ignore_errors=True)


def test_polyfill_cover_geojson_matches_json_rings(spark):
    """A GeoJSON polygon layer (holes included) polyfills identically to
    JSON rings; ring_to_geojson output round-trips through the parser;
    non-Polygon and malformed rows drop out."""
    import json as _json

    from pyspark.sql import functions as F

    from a5spark.functions import gis
    from a5spark.operators.polygons import polyfill_cover, polyfill_cover_geojson

    quad = [[-0.5, 51.2], [0.3, 51.2], [0.3, 51.7], [-0.5, 51.7], [-0.5, 51.2]]
    outer = [[12.0, 40.0], [16.0, 40.0], [16.0, 44.0], [12.0, 44.0], [12.0, 40.0]]
    hole = [[13.0, 41.0], [15.0, 41.0], [15.0, 43.0], [13.0, 43.0], [13.0, 41.0]]
    layers = [("quad", [quad]), ("holed", [outer, hole])]
    jdf = spark.createDataFrame(
        [(pid, _json.dumps(rings)) for pid, rings in layers],
        ["polygon_id", "rings_json"],
    )
    gdf = spark.createDataFrame(
        [
            (pid, _json.dumps({"type": "Polygon", "coordinates": rings}))
            for pid, rings in layers
        ]
        + [("pt", '{"type":"Point","coordinates":[1.0,2.0]}'), ("bad", "{oops")],
        ["polygon_id", "geojson"],
    )
    want = sorted(tuple(r) for r in polyfill_cover(jdf, 7).collect())
    got = sorted(tuple(r) for r in polyfill_cover_geojson(gdf, 7).collect())
    assert got == want and len(want) > 0
    assert not any(r[0] in ("pt", "bad") for r in got)
    # export -> parse round-trip: ring_to_geojson output re-parses to the ring
    ring = [[float(x), float(y)] for x, y in quad]
    rdf = spark.createDataFrame([(ring,)], "ring: array<array<double>>")
    rt = rdf.select(
        gis.geojson_polygon_rings(gis.ring_to_geojson(F.col("ring"))).alias("rings")
    ).collect()[0].rings
    assert len(rt) == 1
    assert np.abs(np.array(rt[0]) - np.array(ring)).max() <= 6e-8


def test_matmul_topk_tie_group_bounded_and_exact(spark):
    """An all-ties corpus (identical vectors, so every chunk score equals
    the kth) must (a) emit exactly Q*k candidates — the old keep-the-whole-
    tie-group path emitted O(n_points) per query — and (b) still resolve
    the boundary by id ASC, matching SQL row_number semantics, including
    for string ids."""
    from a5spark.operators.similarity import _matmul_broadcast, brute_force_topk

    vec = [1.0, 0.0, 0.5]
    ids = [f"p{i:03d}" for i in range(40)]
    pts = spark.createDataFrame(
        [(i, vec) for i in ids], ["vec_id", "embedding"]
    ).coalesce(1)
    qs = spark.createDataFrame(
        [(f"q{j}", vec) for j in range(3)], ["q_id", "embedding"]
    )
    # single-partition points -> exactly ONE scoring batch, so the
    # per-batch bound is observable: k per query, not the 40-wide tie group
    cand = _matmul_broadcast(
        qs, qs.toPandas(), pts, 3, "q_id", "vec_id", "embedding", False, 1000
    )
    assert cand.count() == 3 * 3
    top = brute_force_topk(qs, pts, k=3).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.q_id, []).append(r.vec_id)
    for q, got in by_q.items():
        assert sorted(got) == ["p000", "p001", "p002"], (q, got)


def test_reoptimize_rebins_opt_files_without_data_loss(spark):
    """Re-optimizing a layout whose bins CONTAIN earlier opt- files must
    not collide names (the old key-derived name deleted the freshly
    committed merge — permanent data loss): version-prefixed names make
    every commit unique. Scan parity and total rows must survive two
    rounds of maintenance."""
    from a5spark.entry_queries import _LAYOUT_COVER
    from a5spark.operators import layout

    d = "/tmp/a5spark_test/cell_layout_r5_reopt"
    shutil.rmtree(d, ignore_errors=True)
    man0 = _build_layout(spark, n_files=16, path=d)
    total_rows = sum(e["rows"] for e in man0["files"])
    scan0, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    want = sorted(tuple(r) for r in scan0.collect())

    sizes = [e["bytes"] for e in man0["files"]]
    s1 = layout.optimize_cell_layout(
        spark, d, target_file_bytes=int(sum(sizes) / 4 * 1.05),
        min_file_bytes=max(sizes) + 1,
    )
    assert s1["files_after"] < 16
    man1 = layout.read_manifest(spark, d)
    # second round: every surviving file (incl. opt- merges) is re-binnable
    s2 = layout.optimize_cell_layout(
        spark, d,
        target_file_bytes=sum(e["bytes"] for e in man1["files"]) + 1,
        min_file_bytes=max(e["bytes"] for e in man1["files"]) + 1,
    )
    assert s2["files_after"] < s1["files_after"]
    man2 = layout.read_manifest(spark, d)
    assert sum(e["rows"] for e in man2["files"]) == total_rows  # no loss
    for e in man2["files"]:
        assert os.path.exists(f"{d}/{e['file']}")
    scan2, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    assert sorted(tuple(r) for r in scan2.collect()) == want
    shutil.rmtree(d, ignore_errors=True)


def test_torn_manifest_pointer_recovers_from_version_log(spark):
    """A crash inside the pointer swap (empty/corrupt/missing current
    manifest) must not brick the layout: read_manifest falls back to the
    highest committed version log."""
    from a5spark.entry_queries import _LAYOUT_COVER
    from a5spark.operators import layout

    d = "/tmp/a5spark_test/cell_layout_r5_torn"
    shutil.rmtree(d, ignore_errors=True)
    _build_layout(spark, n_files=4, path=d)
    layout.append_cell_layout(
        spark.read.parquet(f"{d}/{layout.read_manifest(spark, d)['files'][0]['file']}")
        .drop("cell_key")
        .limit(5),
        d,
    )
    good = layout.read_manifest(spark, d)
    scan_good, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
    want = sorted(tuple(r) for r in scan_good.collect())
    for torn in ("", "{half"):
        with open(f"{d}/{layout.MANIFEST_NAME}", "w") as f:
            f.write(torn)
        rec = layout.read_manifest(spark, d)
        assert rec == good
        scan_rec, _ = layout.scan_cell_layout(spark, d, _LAYOUT_COVER)
        assert sorted(tuple(r) for r in scan_rec.collect()) == want
    os.remove(f"{d}/{layout.MANIFEST_NAME}")
    assert layout.read_manifest(spark, d) == good
    shutil.rmtree(d, ignore_errors=True)


def test_wkt_multipolygon_parses_as_parts(spark):
    """MULTIPOLYGON contains the substring POLYGON; the single-POLYGON
    parsers stay anchored and reject it (a half-match once parsed polygon 2
    as a HOLE of polygon 1 — silently wrong covers), but since round 6 the
    PARTS parser handles it and the cover builder fills every part — a
    multipolygon layer no longer yields a silent empty cover (r5's gap)."""
    from pyspark.sql import functions as F

    from a5spark.functions import gis
    from a5spark.operators.polygons import polyfill_cover_wkt

    mp = (
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
        "((10 10, 14 10, 14 14, 10 14, 10 10)))"
    )
    df = spark.createDataFrame([("mp", mp)], ["polygon_id", "wkt"])
    out = df.select(
        gis.wkt_polygon_ring(F.col("wkt")).alias("ring"),
        gis.wkt_polygon_rings(F.col("wkt")).alias("rings"),
        gis.wkt_polygon_parts(F.col("wkt")).alias("parts"),
    ).collect()[0]
    assert out.ring == [] and out.rings == []
    assert len(out.parts) == 2 and [len(p) for p in out.parts] == [1, 1]
    assert polyfill_cover_wkt(df, 7).count() > 0


def test_wkt_z_variant_parses_to_lonlat(spark):
    """POLYGON Z/M WKT (extra ordinates) parses to 2-D lonlat rings —
    polyfill must never see 3-element points — and still covers identically
    to the 2-D form."""
    from pyspark.sql import functions as F

    from a5spark.functions import gis
    from a5spark.operators.polygons import polyfill_cover_wkt

    flat = "POLYGON ((-0.5 51.2, 0.3 51.2, 0.3 51.7, -0.5 51.7, -0.5 51.2))"
    z = (
        "POLYGON Z ((-0.5 51.2 10, 0.3 51.2 11, 0.3 51.7 12, "
        "-0.5 51.7 13, -0.5 51.2 10))"
    )
    df = spark.createDataFrame(
        [("flat", flat), ("z", z)], ["polygon_id", "wkt"]
    )
    rings = {
        r.polygon_id: r.rings
        for r in df.select(
            "polygon_id", gis.wkt_polygon_rings(F.col("wkt")).alias("rings")
        ).collect()
    }
    assert rings["z"] == rings["flat"]
    assert all(len(p) == 2 for p in rings["z"][0])
    cov = polyfill_cover_wkt(df, 7).collect()
    by_id = {}
    for r in cov:
        by_id.setdefault(r.polygon_id, set()).add(r.cell)
    assert by_id["z"] == by_id["flat"] and len(by_id["z"]) > 0
