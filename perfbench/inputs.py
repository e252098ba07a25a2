"""Seeded input generators. Every input of a run derives from `--seed`;
the engine only ever sees the files written here.

Nothing in this module touches Spark: inputs are numpy arrays written as
parquet with pyarrow, so the generator's cost never mixes with the
engine's."""

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EARTH_R_M = 6371007.2  # authalic radius, the engine's haversine sphere
ARROW_BATCH_ROWS = 65_536  # spark.sql.execution.arrow.maxRecordsPerBatch


def uniform_sphere(rng, n):
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return lon, lat


def _offset(lon0, lat0, bearing, dist_rad):
    """Destination point on the sphere (vectorised, degrees in and out)."""
    la0, lo0 = np.radians(lat0), np.radians(lon0)
    la = np.arcsin(
        np.sin(la0) * np.cos(dist_rad)
        + np.cos(la0) * np.sin(dist_rad) * np.cos(bearing)
    )
    lo = lo0 + np.arctan2(
        np.sin(bearing) * np.sin(dist_rad) * np.cos(la0),
        np.cos(dist_rad) - np.sin(la0) * np.sin(la),
    )
    lon = (np.degrees(lo) + 180.0) % 360.0 - 180.0
    return lon, np.degrees(la)


class PointSet:
    """Points uniform on the sphere plus a hot-spot share clustered around
    a few seeded centres (Gaussian, `hot_sigma_km` wide)."""

    def __init__(self, rng, n, hot_share=0.2, n_hot=8, hot_sigma_km=40.0):
        self.hot_lon, self.hot_lat = uniform_sphere(rng, n_hot)
        n_hot_rows = int(round(n * hot_share))
        lon_u, lat_u = uniform_sphere(rng, n - n_hot_rows)
        which = rng.integers(0, n_hot, n_hot_rows)
        dist = np.abs(rng.normal(0.0, hot_sigma_km * 1000.0, n_hot_rows)) / EARTH_R_M
        lon_h, lat_h = _offset(
            self.hot_lon[which], self.hot_lat[which],
            rng.uniform(0, 2 * np.pi, n_hot_rows), dist,
        )
        order = rng.permutation(n)
        self.lon = np.concatenate([lon_u, lon_h])[order]
        self.lat = np.concatenate([lat_u, lat_h])[order]
        self.ids = np.arange(n, dtype=np.int64)
        self.hot_share = hot_share

    def __len__(self):
        return len(self.lon)

    def centre(self, rng, hot):
        """A request centre: a jittered hot-spot centre, or a uniform point."""
        if hot:
            i = rng.integers(0, len(self.hot_lon))
            lon, lat = _offset(
                self.hot_lon[i:i + 1], self.hot_lat[i:i + 1],
                rng.uniform(0, 2 * np.pi, 1),
                np.array([rng.uniform(0, 20_000.0) / EARTH_R_M]),
            )
            return float(lon[0]), float(lat[0])
        lon, lat = uniform_sphere(rng, 1)
        return float(lon[0]), float(lat[0])

    def write(self, path, n_files):
        write_table(
            path, {"image_id": self.ids, "lon": self.lon, "lat": self.lat}, n_files
        )


def write_table(path, columns: dict, n_files: int):
    """Write `columns` as `n_files` parquet files of near-equal row counts
    (one input split each)."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        table = pa.table({k: v[lo:hi] for k, v in columns.items()})
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def star_polygon(rng, lon0, lat0, n_vertices, r_min_km, r_max_km):
    """A simple (star-shaped) polygon around (lon0, lat0): vertices at
    sorted random bearings with random radii. Returns [[lon, lat], ...]."""
    bearings = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
    radii = rng.uniform(r_min_km, r_max_km, n_vertices) * 1000.0 / EARTH_R_M
    lon, lat = _offset(
        np.full(n_vertices, lon0), np.full(n_vertices, lat0), bearings, radii
    )
    return [[float(a), float(b)] for a, b in zip(lon, lat)]


def gnomonic(lon, lat, lon0, lat0):
    """Gnomonic projection about (lon0, lat0): great circles map to straight
    lines, so a planar crossing-number test is exact for great-circle edges.
    Returns (x, y, in_front) — points on the far hemisphere are not
    projectable and have in_front False."""
    lo, la = np.radians(np.asarray(lon)), np.radians(np.asarray(lat))
    lo0, la0 = math.radians(lon0), math.radians(lat0)
    cos_c = math.sin(la0) * np.sin(la) + math.cos(la0) * np.cos(la) * np.cos(lo - lo0)
    front = cos_c > 1e-9
    safe = np.where(front, cos_c, 1.0)
    x = np.cos(la) * np.sin(lo - lo0) / safe
    y = (math.cos(la0) * np.sin(la) - math.sin(la0) * np.cos(la) * np.cos(lo - lo0)) / safe
    return x, y, front


def polygon_area_km2(ring, lon0, lat0):
    """Planar area in the gnomonic plane about the centre, in km^2 (close to
    the spherical area for the few-hundred-km polygons generated here)."""
    arr = np.asarray(ring)
    x, y, _ = gnomonic(arr[:, 0], arr[:, 1], lon0, lat0)
    a = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    return a * (EARTH_R_M / 1000.0) ** 2


# --- event stream -----------------------------------------------------------


def user_lonlat(user_id):
    """The engine derives an event's location from its user id
    (streaming.density.with_event_location); this is the same integer
    arithmetic in numpy, for the oracle."""
    k = np.asarray(user_id, dtype=np.int64)
    small = k % 1048576
    lon = ((small * 9973 + 12345) % 360000) / 1000.0 - 180.0
    lat = np.degrees(np.arcsin(((small * 104729 + 54321) % 2000001) / 1000000.0 - 1.0))
    return lon, lat


class EventFeed:
    """Seeded event files: `per_file` events each, file i covering event
    time [base + i*slice, base + (i+1)*slice). A seeded set of hot users
    draws `hot_share` of the events, so the stream has hot cells."""

    BASE = np.datetime64("2026-01-01T00:00:00", "us")
    SLICE_S = 300

    def __init__(self, seed, n_users=50_000, n_hot_users=40, hot_share=0.25, per_file=20_000):
        self.seed = seed
        self.n_users = n_users
        self.hot_users = np.random.default_rng((seed, 11)).choice(
            n_users, n_hot_users, replace=False
        )
        self.hot_share = hot_share
        self.per_file = per_file

    def events(self, i):
        rng = np.random.default_rng((self.seed, 12, i))
        n = self.per_file
        users = rng.integers(0, self.n_users, n)
        hot = rng.random(n) < self.hot_share
        users[hot] = rng.choice(self.hot_users, int(hot.sum()))
        offs = rng.integers(0, self.SLICE_S * 1_000_000, n).astype("timedelta64[us]")
        ts = self.BASE + np.timedelta64(i * self.SLICE_S, "s") + offs
        return users.astype(np.int64), ts

    def land(self, src_dir, i):
        """Write file i under a hidden name, then rename it into the source
        directory (the rename is the landing: atomic, so the stream never
        sees a partial file). Returns the landing time (perf_counter)."""
        users, ts = self.events(i)
        table = pa.table(
            {"user_id": users, "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}
        )
        tmp = os.path.join(src_dir, f".landing-{i:05d}.parquet")
        pq.write_table(table, tmp)
        t = time.perf_counter()
        os.rename(tmp, os.path.join(src_dir, f"events-{i:05d}.parquet"))
        return t


# --- near-duplicate corpus ---------------------------------------------------


def neardup_vectors(rng, n, dim, planted_share, noise):
    """Gaussian vectors; `planted_share` of them get a near-duplicate row
    (vector + relative `noise`), appended as extra rows. Returns
    (ids, matrix, planted pairs as (id_a, id_b) with id_a < id_b)."""
    base = rng.normal(0.0, 1.0, (n, dim))
    n_pl = int(round(n * planted_share))
    src = rng.choice(n, n_pl, replace=False)
    dup = base[src] + rng.normal(0.0, noise, (n_pl, dim)) * (
        np.linalg.norm(base[src], axis=1, keepdims=True) / math.sqrt(dim)
    )
    mat = np.vstack([base, dup])
    ids = np.arange(len(mat), dtype=np.int64)
    pairs = [(int(s), n + j) for j, s in enumerate(src)]
    return ids, mat, pairs


def neardup_docs(rng, n, n_words, planted_share, vocab_size=3000):
    """Documents of `n_words` seeded words; `planted_share` of them get a
    copy with one word replaced, appended as extra docs."""
    vocab = [
        "".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(3, 9)))
        for _ in range(vocab_size)
    ]
    docs = [" ".join(vocab[w] for w in rng.integers(0, vocab_size, n_words)) for _ in range(n)]
    n_pl = int(round(n * planted_share))
    src = rng.choice(n, n_pl, replace=False)
    pairs = []
    for s in src:
        words = docs[s].split(" ")
        words[rng.integers(0, n_words)] = vocab[rng.integers(0, vocab_size)]
        pairs.append((int(s), len(docs)))
        docs.append(" ".join(words))
    return np.arange(len(docs), dtype=np.int64), docs, pairs
