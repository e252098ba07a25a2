"""Round-8 (optimization round) regression tests: every test pins an
optimized operator's internals against the pre-optimization reference
semantics, so the speedups cannot silently change results."""

import numpy as np
import pandas as pd
import pytest


# --- vectorized streaming sessionizer vs the reference per-event loop --------


class _FakeState:
    """Minimal stand-in for pyspark GroupState (enough for sessionize)."""

    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self._v = value
        self.hasTimedOut = timed_out
        self._wm = watermark_ms
        self.timeout_set = None
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("state does not exist")
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms

    def getCurrentWatermarkMs(self):
        return self._wm


def _emit_ref(user_id, start_us, last_us, n, total):
    return pd.DataFrame(
        {
            "user_id": pd.Series([user_id], dtype="int64"),
            "session_start": pd.to_datetime([start_us], unit="us"),
            "session_end": pd.to_datetime([last_us], unit="us"),
            "n_events": pd.Series([n], dtype="int64"),
            "total_value": pd.Series([total], dtype="float64"),
        }
    )


def _reference_sessionize(gap_us):
    """Copy of the pre-round-8 per-event loop (the semantics the vectorized
    form must reproduce exactly). One deliberate delta: `kind="stable"` on
    the sort — the historic unstable quicksort ordered EXACT-TIE timestamps
    arbitrarily, which only permutes float addition order within a session
    (same membership/bounds/count; sums differ by association only, and the
    real event tables carry no (user, ts) ties at any sf). The vectorized
    form pins the stable order, which this reference mirrors."""

    def sessionize(key, pdfs, state):
        user_id = key[0]
        out = []
        if state.hasTimedOut:
            if state.exists:
                s, l, n, t = state.get
                out.append(_emit_ref(user_id, s, l, n, t))
                state.remove()
            return iter(out)

        rows = pd.concat(list(pdfs))
        rows = rows.sort_values("ts", kind="stable")
        ts_us = rows["ts"].astype("int64") // 1000
        vals = rows["value"].astype("float64")

        if state.exists:
            s, l, n, t = state.get
        else:
            s = l = None
            n, t = 0, 0.0
        for ev_us, v in zip(ts_us.to_numpy(), vals.to_numpy()):
            ev_us = int(ev_us)
            if s is None:
                s, l, n, t = ev_us, ev_us, 1, float(v)
            elif ev_us - l > gap_us:
                out.append(_emit_ref(user_id, s, l, n, t))
                s, l, n, t = ev_us, ev_us, 1, float(v)
            elif ev_us >= s - gap_us:
                s = min(s, ev_us)
                l = max(l, ev_us)
                n += 1
                t += float(v)
            else:
                out.append(_emit_ref(user_id, ev_us, ev_us, 1, float(v)))
        state.update((s, l, n, t))
        state.setTimeoutTimestamp(l // 1000 + gap_us // 1000)
        return iter(out)

    return sessionize


def _run(fn, events_us, values, state):
    pdf = pd.DataFrame(
        {
            "user_id": pd.Series([7] * len(events_us), dtype="int64"),
            "ts": pd.to_datetime(np.asarray(events_us, dtype=np.int64), unit="us"),
            "value": pd.Series(values, dtype="float64"),
        }
    )
    out = list(fn((np.int64(7),), iter([pdf]), state))
    if not out:
        return pd.DataFrame(
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"]
        )
    return pd.concat(out, ignore_index=True)


_GAP = 1800 * 1_000_000  # 30 minutes in us


def _scenarios(rng, n_cases=60):
    """Randomized event batches incl. in-order, ties, gaps, late events and
    pre-existing state."""
    for _ in range(n_cases):
        m = int(rng.integers(1, 40))
        base = int(rng.integers(0, 10**12))
        steps = rng.choice(
            [0, 1, 1000, _GAP - 1, _GAP, _GAP + 1, 3 * _GAP],
            size=m,
            p=[0.1, 0.2, 0.3, 0.1, 0.1, 0.1, 0.1],
        )
        ts = base + np.cumsum(steps)
        # shuffle some to simulate unsorted arrival within the batch
        if rng.random() < 0.5:
            rng.shuffle(ts)
        vals = rng.normal(size=m) * 10
        if rng.random() < 0.5:
            state_v = None
        else:
            # open session somewhere around the batch window (late-event and
            # merge branches both get exercised)
            s0 = base + int(rng.integers(-4 * _GAP, 4 * _GAP))
            l0 = s0 + int(rng.integers(0, 2 * _GAP))
            state_v = (s0, l0, int(rng.integers(1, 5)), float(rng.normal()))
        yield ts, vals, state_v


def test_sessionizer_matches_reference_loop():
    from a5spark.streaming.sessions import make_sessionizer

    rng = np.random.default_rng(20260821)
    fast = make_sessionizer(_GAP)
    ref = _reference_sessionize(_GAP)
    for ts, vals, state_v in _scenarios(rng):
        st_f = _FakeState(state_v)
        st_r = _FakeState(state_v)
        got = _run(fast, ts, vals, st_f)
        want = _run(ref, ts, vals, st_r)
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), want.reset_index(drop=True)
        )
        assert st_f._v == st_r._v
        assert st_f.timeout_set == st_r.timeout_set


def test_sessionizer_timeout_path_matches():
    from a5spark.streaming.sessions import make_sessionizer

    fast = make_sessionizer(_GAP)
    ref = _reference_sessionize(_GAP)
    for state_v in [None, (100, 200, 3, 4.5)]:
        st_f = _FakeState(state_v, timed_out=True)
        st_r = _FakeState(state_v, timed_out=True)
        got = list(fast((np.int64(7),), iter([]), st_f))
        want = list(ref((np.int64(7),), iter([]), st_r))
        assert len(got) == len(want)
        for g, w in zip(got, want):
            pd.testing.assert_frame_equal(g, w)
        assert st_f._v == st_r._v


# --- streaming dedup fn: batched emit matches the reference ------------------


class _DedupFakeState(_FakeState):
    pass


def _reference_dedup_fn(ttl_ms):
    """VERBATIM copy of the pre-round-8 per-digest worker."""

    def fn(key, pdfs, state):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return iter([])
        digest = int(key[0])
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        ids = rows["doc_id"].astype("int64")
        if state.exists:
            canon, n = state.get
        else:
            canon, n = int(ids.iloc[0]), 0
        n += len(ids)
        state.update((int(canon), int(n)))
        if ttl_ms is not None:
            ts = rows["ts"].dropna()
            last_ms = (
                int(ts.astype("int64").max()) // 1_000_000
                if len(ts)
                else state.getCurrentWatermarkMs()
            )
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + ttl_ms, wm + 1))
        return iter(
            [
                pd.DataFrame(
                    {
                        "digest": pd.Series([digest] * len(ids), dtype="int64"),
                        "doc_id": ids.to_numpy(),
                        "canonical_id": pd.Series([canon] * len(ids), dtype="int64"),
                        "is_dup": (ids.to_numpy() != canon).astype("int32"),
                    }
                )
            ]
        )

    return fn


def test_dedup_fn_matches_reference():
    from a5spark.streaming.dedup import _make_dedup_fn

    rng = np.random.default_rng(8)
    for ttl_ms in (None, 3_600_000):
        fast = _make_dedup_fn(ttl_ms)
        ref = _reference_dedup_fn(ttl_ms)
        for _ in range(30):
            m = int(rng.integers(1, 20))
            ids = rng.integers(0, 1000, size=m)
            ts = pd.to_datetime(
                rng.integers(0, 10**12, size=m).astype(np.int64), unit="us"
            )
            if rng.random() < 0.2:
                ts = pd.Series(ts).mask(
                    pd.Series(rng.random(size=m) < 0.5)
                )  # NaT rows
            pdf = pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "ts": pd.Series(ts),
                    "digest": pd.Series([42] * m, dtype="int64"),
                    "is_null_text": pd.Series([0] * m, dtype="int32"),
                }
            )
            state_v = None if rng.random() < 0.5 else (int(ids[0]), 3)
            st_f = _FakeState(state_v, watermark_ms=123)
            st_r = _FakeState(state_v, watermark_ms=123)
            got = list(fast((np.int64(42), np.int32(0)), iter([pdf.copy()]), st_f))
            want = list(ref((np.int64(42), np.int32(0)), iter([pdf.copy()]), st_r))
            assert len(got) == len(want) == 1
            g = got[0].sort_values("doc_id").reset_index(drop=True)
            w = want[0].sort_values("doc_id").reset_index(drop=True)
            pd.testing.assert_frame_equal(g, w)
            assert st_f._v == st_r._v
            assert st_f.timeout_set == st_r.timeout_set


# --- JPEG vectorized entropy coder vs the per-block reference ----------------


def test_jpeg_encode_matches_reference_bytes():
    """The vectorized pass-1/pass-2 entropy coder must produce BYTE-identical
    streams to the retained per-block walk (_force_reference routes through
    _block_symbols + _BitWriter — the pre-round-8 implementation, still live
    for restart-marker layouts)."""
    from a5spark.kernels.jpeg import jpeg_decode, jpeg_encode

    rng = np.random.default_rng(88)
    for h, w in [(8, 8), (17, 23), (32, 32), (40, 64), (64, 88)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for sub in ("444", "422", "420", "gray"):
            for interleave in (True, False):
                for q in (98, 75, 40):
                    a = jpeg_encode(px, q, sub, interleave=interleave)
                    b = jpeg_encode(
                        px, q, sub, interleave=interleave,
                        _force_reference=True,
                    )
                    assert a == b, (h, w, sub, interleave, q)
    # smooth gradient (long zero runs -> ZRL/EOB-heavy stream) + flat image
    yy, xx = np.mgrid[0:48, 0:56]
    smooth = np.stack([yy * 3 % 256, xx * 2 % 256, (yy + xx) % 256], axis=-1)
    smooth = smooth.astype(np.uint8)
    flat = np.full((24, 24, 3), 128, dtype=np.uint8)
    for px in (smooth, flat):
        for q in (98, 50):
            assert jpeg_encode(px, q) == jpeg_encode(
                px, q, _force_reference=True
            )
            out = jpeg_decode(jpeg_encode(px, q))
            assert out.shape == px.shape


# --- decode_health NULL metadata containment (NaN-arriving ints) -------------


@pytest.fixture(scope="module")
def spark():
    from a5spark.session import get_spark

    s = get_spark("a5spark-test-round8", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_decode_health_null_int_metadata_labels_nullinput(spark):
    """A NULL IntegerType w/h reaches pandas as NaN (not None); the null
    guard must catch it and label the row NullInput rather than letting
    int(NaN) raise and mislabel it ValueError."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from a5spark.operators.multimodal import decode_health

    schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("bytes", BinaryType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("fmt", StringType()),
        ]
    )
    px = bytes(range(12))  # 2x2 rgb8
    rows = [
        ("ok", px, 2, 2, "rgb8"),
        ("null_w", px, None, 2, "rgb8"),
        ("null_h", px, 2, None, "rgb8"),
        ("null_bytes", None, 2, 2, "rgb8"),
        ("null_fmt", px, 2, 2, None),
    ]
    out = {
        r["image_id"]: (r["ok"], r["err_kind"])
        for r in decode_health(spark.createDataFrame(rows, schema)).collect()
    }
    assert out["ok"] == (True, None)
    for k in ("null_w", "null_h", "null_bytes", "null_fmt"):
        assert out[k] == (False, "NullInput"), (k, out[k])


# --- broadcast-lookup pair scoring vs the join+fold re-rank ------------------


def _rand_vec_df(spark, n, dim, seed):
    rng = np.random.default_rng(seed)
    vecs = (rng.random((n, dim)) * 2.0 - 1.0).astype(np.float64)
    # include exact .5/scale quantization ties and duplicates (qdot ties)
    vecs[0] = vecs[1]
    vecs[2, :] = 0.5 / 127.0
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), vecs


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cosine_neardup_broadcast_scorer_matches_join_path(spark):
    """cosine_neardup_pairs with the broadcast-lookup scorer (default) must
    emit exactly the rows of the join+fold path (cap forced to 0)."""
    from a5spark import cache
    from a5spark.operators import similarity as sim

    df, _ = _rand_vec_df(spark, 150, 8, seed=42)
    kwargs = dict(
        dim=8, threshold_num=4, threshold_den=25, n_bits=2, n_tables=4,
        scale=127, bucket_cap=30, extra_bits=4,
    )
    fast = _sorted_rows(sim.cosine_neardup_pairs(df, **kwargs))
    cache.release_persisted()
    old_cap = sim._PAIR_BCAST_CAP
    sim._PAIR_BCAST_CAP = 0
    try:
        slow = _sorted_rows(sim.cosine_neardup_pairs(df, **kwargs))
    finally:
        sim._PAIR_BCAST_CAP = old_cap
        cache.release_persisted()
    assert fast, "degenerate test: no near-dup pairs produced"
    assert fast == slow


def test_lsh_topk_broadcast_scorer_matches_join_path(spark):
    """lsh_bucket_topk re-rank: broadcast scorer vs join path, including
    qdot ties broken by point id (duplicate vectors in the corpus)."""
    from a5spark import cache
    from a5spark.operators import similarity as sim
    from pyspark.sql import functions as F

    pts, _ = _rand_vec_df(spark, 150, 8, seed=7)
    qs = pts.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    kwargs = dict(k=3, dim=8, n_bits=2, n_tables=4, bucket_cap=30, extra_bits=4)
    fast = _sorted_rows(sim.lsh_bucket_topk(qs, pts, **kwargs))
    cache.release_persisted()
    old_cap = sim._PAIR_BCAST_CAP
    sim._PAIR_BCAST_CAP = 0
    try:
        slow = _sorted_rows(sim.lsh_bucket_topk(qs, pts, **kwargs))
    finally:
        sim._PAIR_BCAST_CAP = old_cap
        cache.release_persisted()
    assert fast, "degenerate test: no top-k rows produced"
    assert fast == slow


def test_broadcast_pair_scorer_drops_missing_ids(spark):
    """Pairs whose id is absent from the vector table must DROP (the inner-
    join semantics of the path the scorer replaces — the crossmodal query
    scores doc-id pairs against the embeddings table, where absence is
    real), and surviving scores must equal exact numpy int64 dots."""
    from a5spark import cache
    from a5spark.operators import similarity as sim

    df, vecs = _rand_vec_df(spark, 20, 8, seed=3)
    q = sim._np_quantize(vecs, 127)
    scorer = sim._broadcast_pair_scorer(
        df, "vec_id", df, "vec_id", "id_a", "id_b", "embedding", 127
    )
    assert scorer is not None
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (999, 1), (4, 998)], ["id_a", "id_b"]
    )
    try:
        out = {(r["id_a"], r["id_b"]): (r["qdot"], r["__na"], r["__nb"])
               for r in scorer(pairs).collect()}
    finally:
        cache.release_persisted()
    assert set(out) == {(0, 1), (2, 3)}
    for a, b in out:
        assert out[(a, b)] == (
            int(q[a] @ q[b]), int(q[a] @ q[a]), int(q[b] @ q[b])
        )


def test_broadcast_pair_scorer_respects_cap(spark):
    """Over-cap vector tables must return None (callers keep the join path
    — the corpus-scale shape)."""
    from a5spark.operators import similarity as sim

    df, _ = _rand_vec_df(spark, 20, 8, seed=5)
    assert sim._broadcast_pair_scorer(
        df, "vec_id", df, "vec_id", "id_a", "id_b", "embedding", 127, cap=19
    ) is None
    assert sim._broadcast_pair_scorer(
        df, "vec_id", df, "vec_id", "id_a", "id_b", "embedding", 127, cap=20
    ) is not None


# --- malformed vector tables take the join path ------------------------------


def _crossmodal_both_paths(spark, tmp_path, emb_rows):
    """q_crossmodal_neardup (text candidate pairs scored against the
    embeddings table) over 6 documents in 3 identical-text pairs: rows on
    the default path and on the join path (scorer cap forced to 0). The
    broadcast scorer must decline the malformed embeddings table."""
    from a5spark import cache
    from a5spark import entry_queries as eq
    from a5spark.operators import similarity as sim

    docs = [(i, f"tile {i // 2} cloud river {i // 2} scan") for i in range(6)]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    assert sim._broadcast_pair_scorer(
        emb, "vec_id", emb, "vec_id", "id_a", "id_b", "embedding", 127
    ) is None
    default = _sorted_rows(eq.q_crossmodal_neardup(spark, str(tmp_path)))
    cache.release_persisted()
    old_cap = sim._PAIR_BCAST_CAP
    sim._PAIR_BCAST_CAP = 0
    try:
        join = _sorted_rows(eq.q_crossmodal_neardup(spark, str(tmp_path)))
    finally:
        sim._PAIR_BCAST_CAP = old_cap
        cache.release_persisted()
    assert default, "degenerate test: no candidate pairs"
    return default, join


def _emb_rows(n=6, dim=4):
    rng = np.random.default_rng(11)
    return [(i, [float(x) for x in rng.random(dim)]) for i in range(n)]


def test_pair_scorer_duplicate_ids_take_join_path(spark, tmp_path):
    rows = _emb_rows()
    rows.append((1, rows[0][1]))  # id 1 twice: the joins emit both
    default, join = _crossmodal_both_paths(spark, tmp_path, rows)
    assert default == join
    assert sum(r[:2] == (0, 1) for r in default) == 2


def test_pair_scorer_null_vector_takes_join_path(spark, tmp_path):
    rows = _emb_rows()
    rows[3] = (3, None)
    default, join = _crossmodal_both_paths(spark, tmp_path, rows)
    assert default == join


def test_pair_scorer_ragged_dims_take_join_path(spark, tmp_path):
    rows = _emb_rows()
    rows[5] = (5, rows[5][1][:2])
    default, join = _crossmodal_both_paths(spark, tmp_path, rows)
    assert default == join
