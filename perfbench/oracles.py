"""Reference answers computed with numpy/pandas from the generated inputs.

Each check returns None when the engine's answer is right, or a short
string saying what is wrong. Checks run outside the timed region."""

import numpy as np

from perfbench.inputs import EARTH_R_M, gnomonic

DIST_TOL_M = 1e-3  # engine (JVM doubles) and numpy may differ in the last ulps


def haversine_m(lat1, lon1, lat2, lon2):
    """Same formula and radius as the engine's haversine_m column."""
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(np.radians(lat1)) * np.cos(
        np.radians(lat2)
    ) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(a))


def check_radius(points, queries, radius_m, got):
    """got: {query_id: set(image_id)}. Brute force over every point."""
    for qid, (qlon, qlat) in enumerate(queries):
        d = haversine_m(qlat, qlon, points.lat, points.lon)
        want = set(points.ids[d <= radius_m].tolist())
        diff = want ^ got.get(qid, set())
        # only points sitting on the radius itself may differ in rounding
        if any(abs(d[i] - radius_m) > DIST_TOL_M for i in diff):
            return f"radius query {qid}: {len(diff)} ids differ"
    return None


def check_knn(points, queries, k, got):
    """got: {query_id: [(image_id, dist_m), ...]}. The engine's k distances
    must be the k smallest brute-force distances, and each reported
    distance must be that point's true distance."""
    for qid, (qlon, qlat) in enumerate(queries):
        d = haversine_m(qlat, qlon, points.lat, points.lon)
        rows = got.get(qid, [])
        want = np.sort(np.partition(d, k)[:k]) if len(d) > k else np.sort(d)
        have = np.sort(np.array([r[1] for r in rows]))
        if len(have) != len(want) or np.max(np.abs(have - want), initial=0) > DIST_TOL_M:
            return f"knn query {qid}: distances differ from brute force"
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        if np.max(np.abs(d[ids] - np.array([r[1] for r in rows])), initial=0) > DIST_TOL_M:
            return f"knn query {qid}: reported distance is not the point's distance"
    return None


def in_cover(cells_u64, cover_u64):
    """Mask of points whose cell descends from (or equals) a cover cell."""
    from a5spark.kernels.serialization import cell_to_parent, get_resolution

    cover_u64 = np.asarray(cover_u64, dtype=np.uint64)
    res = get_resolution(cover_u64)
    mask = np.zeros(len(cells_u64), dtype=bool)
    for r in np.unique(res):
        parents = cell_to_parent(cells_u64, int(r))
        mask |= np.isin(parents, cover_u64[res == r])
    return mask


def crossing_number(lon, lat, ring, lon0, lat0):
    """Point-in-polygon for great-circle edges: project about the polygon's
    centre (gnomonic: edges become straight) and count crossings. Also
    returns each point's distance to the nearest edge in the plane, so
    points on an edge can be told apart from real disagreements."""
    r = np.asarray(ring)
    vx, vy, _ = gnomonic(r[:, 0], r[:, 1], lon0, lat0)
    px, py, front = gnomonic(lon, lat, lon0, lat0)
    inside = np.zeros(len(px), dtype=bool)
    edge_d = np.full(len(px), np.inf)
    for i in range(len(vx)):
        x1, y1, x2, y2 = vx[i], vy[i], vx[i - 1], vy[i - 1]
        crosses = (y1 > py) != (y2 > py)
        xint = x1 + (py - y1) * (x2 - x1) / np.where(y2 != y1, y2 - y1, 1.0)
        inside ^= crosses & (px < xint)
        ex, ey = x2 - x1, y2 - y1
        t = np.clip(((px - x1) * ex + (py - y1) * ey) / (ex * ex + ey * ey), 0.0, 1.0)
        edge_d = np.minimum(edge_d, np.hypot(px - (x1 + t * ex), py - (y1 + t * ey)))
    return inside & front, edge_d


def check_pip(points, cells_u64, ring, centre, cover_u64, got):
    """got: set(image_id) the engine refined inside the polygon. Expected:
    points in the cover (the candidate set) that lie inside the ring."""
    cand = in_cover(cells_u64, cover_u64)
    inside, edge_d = crossing_number(points.lon, points.lat, ring, *centre)
    want = cand & inside
    got_mask = np.isin(points.ids, np.fromiter(got, dtype=np.int64, count=len(got)))
    bad = (want != got_mask) & (edge_d > 1e-9)
    if bad.any():
        return f"pip: {int(bad.sum())} points disagree with the crossing-number test"
    if (got_mask & ~cand).any():
        return "pip: a refined point is not a cover candidate"
    return None


def check_tiles(cells_u64, cover_u64, levels, got):
    """got: {(resolution, cell_u64): n_images}. Pixel counts must sum to
    the points in the region, tile by tile."""
    from a5spark.kernels.serialization import cell_to_parent

    region = cells_u64[in_cover(cells_u64, cover_u64)]
    for lvl in levels:
        parents, counts = np.unique(cell_to_parent(region, lvl), return_counts=True)
        want = dict(zip(parents.tolist(), counts.tolist()))
        have = {c: n for (r, c), n in got.items() if r == lvl}
        if want != have:
            return f"tiles at res {lvl}: counts differ ({sum(have.values())} vs {len(region)} points)"
    return None


def check_density(totals, n_rows):
    bad = {r: t for r, t in totals.items() if t != n_rows}
    return f"density totals {bad} != {n_rows} rows" if bad else None


def check_topk(top, k):
    """Top-k rows must be k (or fewer) counts in descending order."""
    for res, counts in top.items():
        if len(counts) > k or any(a < b for a, b in zip(counts, counts[1:])):
            return f"top-k at res {res} is not sorted descending"
    return None


def check_cells(lon, lat, resolution, got_signed):
    from a5spark.kernels.cell import lonlat_to_cell

    want = lonlat_to_cell(lon, lat, resolution)
    have = np.asarray(got_signed, dtype=np.int64).view(np.uint64)
    n_bad = int((want != have).sum())
    return f"{n_bad} sampled cells differ from lonlat_to_cell" if n_bad else None


def check_stream(feed, n_landed, resolution, got):
    """got: {(window_start_us, cell_signed): n_events}: per (window, cell)
    counts of every landed event, against a pandas group-by."""
    import pandas as pd

    from a5spark.kernels.cell import lonlat_to_cell
    from perfbench.inputs import user_lonlat

    users, ts = zip(*(feed.events(i) for i in range(n_landed)))
    df = pd.DataFrame({"user": np.concatenate(users), "ts": np.concatenate(ts)})
    uniq = np.unique(df["user"].to_numpy())
    lon, lat = user_lonlat(uniq)
    cell_of = pd.Series(
        lonlat_to_cell(lon, lat, resolution).view(np.int64), index=uniq
    )
    df["cell"] = cell_of.loc[df["user"].to_numpy()].to_numpy()
    df["window"] = df["ts"].dt.floor("15min").astype("datetime64[us]").astype(np.int64)
    want = df.groupby(["window", "cell"]).size().to_dict()
    if want != got:
        n_diff = len(set(want.items()) ^ set(got.items()))
        return f"stream: {n_diff} (window, cell) counts differ from pandas"
    return None


def quantize(m, scale):
    """HALF_UP rounding of m * scale, matching the engine's quantize."""
    x = np.asarray(m, dtype=np.float64) * scale
    t = np.trunc(x)
    return (t + np.where(np.abs(x - t) >= 0.5, np.copysign(1.0, x), 0.0)).astype(np.int64)


def check_cosine_pairs(mat, planted, num, den, got):
    """got: {(id_a, id_b): qdot}. Every planted pair found; every reported
    pair passes the integer cosine threshold recomputed in numpy."""
    q = quantize(mat, 127)
    missing = [p for p in planted if p not in got]
    if missing:
        return f"cosine: {len(missing)} planted pairs not found"
    for (a, b), qdot in got.items():
        d = int(q[a] @ q[b])
        if d != qdot or not (d > 0 and d * d * den >= num * int(q[a] @ q[a]) * int(q[b] @ q[b])):
            return f"cosine: pair ({a}, {b}) fails the threshold in numpy"
    return None


def check_ivf(mat, k, got):
    """got: {q_id: [(rank, point_id, qdot), ...]}: each qdot is the exact
    quantized dot product and ranks are ordered by it."""
    q = quantize(mat, 1000)
    for qid, rows in got.items():
        rows = sorted(rows)
        if len(rows) > k or [r[0] for r in rows] != list(range(1, len(rows) + 1)):
            return f"ivf query {qid}: ranks are not 1..k"
        dots = [r[2] for r in rows]
        if any(int(q[qid] @ q[p]) != d for _, p, d in rows) or dots != sorted(dots, reverse=True):
            return f"ivf query {qid}: scores wrong or not descending"
    return None


def shingle_set(text, k):
    return {text[i:i + k] for i in range(max(1, len(text) - k + 1))}


def check_jaccard(docs, planted, k, threshold, got):
    """got: {(id_a, id_b): jaccard} for pairs at or above the threshold."""
    missing = [p for p in planted if p not in got]
    if missing:
        return f"jaccard: {len(missing)} planted pairs not found"
    for (a, b), j in got.items():
        sa, sb = shingle_set(docs[a], k), shingle_set(docs[b], k)
        want = len(sa & sb) / len(sa | sb)
        if abs(want - j) > 1e-9 or want < threshold:
            return f"jaccard: pair ({a}, {b}) is {want:.4f} in python, engine said {j:.4f}"
    return None
