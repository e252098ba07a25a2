"""Similarity search over embedding columns (array<float>).

Operators:
  brute_force_topk      exact cosine top-k: blocked numpy matmul per Arrow
                        batch against the broadcast query matrix, per-batch
                        partial top-k, global window reduction;
  quantized_topk        int64-quantized dot-product top-k — scores bit-exact
                        across engines (the oracle-checked variant);
  lsh_bucket_topk       random-hyperplane LSH bucketing: candidates only from
                        matching buckets — the 100 TB scale path (bucket
                        equi-join instead of a cross join).

Scale notes: brute force shuffles only |Q| * k * n_batches candidate rows —
usable while the query matrix broadcasts; the LSH path shuffles each side
once on (bucket) and joins per bucket. JVM-side zip_with/aggregate helpers
(dot/norm/cosine) remain for per-pair column expressions.

Python-boundary policy (both directions measured at sf1): the HYPERPLANE
BUCKET bits moved to an Arrow pandas_udf matmul (the Catalyst form chained
144 aggregate(zip_with) expressions per row — 110 s vs <0.5 s), but the
candidate-pair RE-RANK stays zip_with/aggregate: one flat 64-element int
dot per already-joined row runs at ~5.6 s for 7.8M pairs JVM-side, while a
pandas_udf einsum pays ~8 GB of Arrow transfer for the two vector columns
and measured 4-17x SLOWER. Rule of thumb: vectorize when one row fans into
many interpreted expressions; stay JVM-side when it's one short expression
per row and the operands are already in the row.
"""

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from a5spark.operators.dedup import content_digest
from a5spark.operators.util import spread as _spread


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _matmul_candidates(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    query_id: str,
    point_id: str,
    vec: str,
    quantized: bool,
    scale: int = 1000,
    max_broadcast_queries: int = 200_000,
) -> DataFrame:
    """Blocked-matmul scoring: the (small) query matrix is broadcast to every
    task; each Arrow batch of points scores against ALL queries with one
    numpy matmul and emits only its per-query top-k — candidates are then
    reduced by a global window. Shuffle volume: |Q| * k * n_batches rows.

    quantized=True scores with exact int64 dot products of round(x * scale)
    vectors (engine-portable); otherwise float64 cosine.

    The query fleet is bounded: when |Q| > max_broadcast_queries the fleet is
    processed in deterministic hash chunks of at most that size (one
    collect + broadcast + map-only scan per chunk, unioned) — the driver
    never holds more than one chunk's matrix, so a 10^7-query fleet degrades
    to more scans instead of a driver OOM.

    The bound is probed by the collect itself (LIMIT max+1): the common
    small-fleet path pays exactly one job — the collect it needed anyway —
    and only an over-limit fleet runs the count that sizes the chunking."""
    probe = queries.select(query_id, vec).limit(max_broadcast_queries + 1).toPandas()
    if len(probe) <= max_broadcast_queries:
        return _matmul_broadcast(
            queries, points, k, query_id, point_id, vec, quantized, scale,
            qpdf=probe,
        )
    n_q = queries.count()
    # single-level split (no recursion: pmod(hash, n) is correlated
    # across levels, a re-split of one chunk would never separate it);
    # hash variance can push a chunk slightly over the bound, which is
    # fine — the bound is a driver-memory envelope, not an exact quota.
    # Chunks call the broadcast worker directly (no per-chunk re-count).
    # The projected+spread point frame is persisted ONCE across chunks (the
    # first chunk's job materializes it, the rest read the cache), so an
    # over-limit fleet pays one point-table scan total instead of one per
    # chunk; the caller's cache scope releases it after materialization.
    from a5spark import cache as _cache

    n_chunks = -(-n_q // max_broadcast_queries)
    pts = _cache.persist(_spread(points.select(point_id, vec)))
    chunk = F.pmod(F.xxhash64(F.col(query_id)), F.lit(n_chunks))
    parts = [
        _matmul_broadcast(
            queries.filter(chunk == c), pts, k, query_id, point_id,
            vec, quantized, scale, prepped=True,
        )
        for c in range(n_chunks)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _matmul_broadcast(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    query_id: str,
    point_id: str,
    vec: str,
    quantized: bool,
    scale: int,
    qpdf=None,
    prepped: bool = False,
) -> DataFrame:
    """Single-broadcast scorer: collects the (bounded) query frame, scores
    every point batch against it. Callers bound |queries| (see
    _matmul_candidates); a caller that already collected the fleet passes it
    as `qpdf` so the probe collect is not repeated, and one that already
    projected+spread (and possibly persisted) the point frame passes
    prepped=True so it is consumed as-is."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # id types follow the callers' columns (string ids are valid keys)
    schema_out = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField(point_id, points.schema[point_id].dataType),
            StructField("score", DoubleType() if not quantized else LongType()),
        ]
    )
    if qpdf is None:
        qpdf = queries.select(query_id, vec).toPandas()
    if len(qpdf) == 0:  # np.stack raises on an empty frame
        return queries.sparkSession.createDataFrame([], schema_out)
    q_ids = qpdf[query_id].to_numpy()
    q_mat = np.stack(qpdf[vec].to_numpy()).astype(np.float64)
    if quantized:
        q_mat = _np_quantize(q_mat, scale)
    else:
        norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
        q_mat = q_mat / np.where(norms > 0, norms, 1.0)  # zero-norm -> no NaN
    spark = queries.sparkSession
    from a5spark import cache as _cache

    # scope-registered: destroyed by the caller once the result materializes
    bc = _cache.register_broadcast(spark.sparkContext.broadcast((q_ids, q_mat)))

    def score(batches):
        ids, mat = bc.value
        for pdf in batches:
            p_ids = pdf[point_id].to_numpy()
            p_mat = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            if quantized:
                p_mat = _np_quantize(p_mat, scale)
            else:
                norms = np.linalg.norm(p_mat, axis=1, keepdims=True)
                p_mat = p_mat / np.where(norms > 0, norms, 1.0)
            out_q, out_p, out_s = [], [], []
            for lo in range(0, p_mat.shape[0], 8192):
                chunk = p_mat[lo : lo + 8192]
                scores = mat @ chunk.T  # (Q, B)
                kk = min(k, chunk.shape[0])
                # exact top-kk per chunk under the global (score DESC,
                # id ASC) contract. argpartition alone would pick an
                # arbitrary kk among kth-score ties, dropping smaller-id
                # tied points the SQL row_number prefers — but keeping the
                # WHOLE tie group is unbounded (a duplicate-heavy corpus
                # can tie an entire chunk, emitting O(B) per query). So:
                # resolve the boundary tie group by id ASC and emit exactly
                # kk — sufficient, because at most kk rows of any chunk can
                # reach the global top-k.
                kth = np.partition(scores, scores.shape[1] - kk, axis=1)[
                    :, scores.shape[1] - kk
                ]
                mask = scores >= kth[:, None]
                counts = mask.sum(axis=1)
                spill = np.nonzero(counts > kk)[0]
                if spill.size:
                    chunk_ids = p_ids[lo : lo + chunk.shape[0]]
                    order = np.argsort(chunk_ids, kind="stable")
                    rank = np.empty(chunk.shape[0], dtype=np.int64)
                    rank[order] = np.arange(chunk.shape[0])
                    for qi in spill:
                        tie_cols = np.nonzero(scores[qi] == kth[qi])[0]
                        need = kk - int((scores[qi] > kth[qi]).sum())
                        keep_order = np.argsort(rank[tie_cols], kind="stable")
                        mask[qi, tie_cols[keep_order[need:]]] = False
                qi_idx, pj_idx = np.nonzero(mask)
                out_q.extend(ids[qi_idx])
                out_p.extend(p_ids[lo + pj_idx])
                out_s.extend(scores[qi_idx, pj_idx])
            yield pd.DataFrame({query_id: out_q, point_id: out_p, "score": out_s})

    src = points if prepped else _spread(points.select(point_id, vec))
    return src.mapInPandas(score, schema_out)


def brute_force_topk(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    query_id: str = "q_id",
    point_id: str = "vec_id",
    vec: str = "embedding",
    max_broadcast_queries: int = 200_000,
) -> DataFrame:
    """Exact cosine top-k of each query against all points: blocked numpy
    matmul per Arrow batch + global window reduction. Query fleets beyond
    max_broadcast_queries process in hash chunks (bounded driver memory)."""
    cand = _matmul_candidates(
        queries, points, k, query_id, point_id, vec, False,
        max_broadcast_queries=max_broadcast_queries,
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(point_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("score", "cos_sim")
    )


def _np_quantize(m, scale: int):
    """round(x * scale) with HALF AWAY FROM ZERO ties — the convention of
    Spark's F.round and DuckDB's round, so every numpy quantization in this
    module lands on exactly the values the Catalyst `quantize` expression
    and the oracle SQL produce (np.round would break ties half-to-EVEN).

    Implemented without a rounding-inducing addition: floor(x+0.5) is wrong
    for doubles just below a .5 boundary (x=0.49999999999999994: x+0.5 == 1.0
    exactly, quantizing to 1 where HALF_UP engines produce 0). trunc + an
    exact |frac| >= 0.5 comparison matches HALF_UP for all doubles."""
    x = np.asarray(m, dtype=np.float64) * scale
    t = np.trunc(x)
    out = t + np.where(np.abs(x - t) >= 0.5, np.copysign(1.0, x), 0.0)
    return out.astype(np.int64)


def quantize(vec: Column, scale: int = 1000) -> Column:
    """array<float> -> array<long> by round(x * scale) — exact cross-engine."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))


def quantized_topk(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    query_id: str = "q_id",
    point_id: str = "vec_id",
    vec: str = "embedding",
    max_broadcast_queries: int = 200_000,
) -> DataFrame:
    """Integer-quantized dot-product top-k (deterministic tie-break by id):
    exact int64 scores, bit-identical to the ANSI-SQL formulation (the
    oracle-checked ANN variant). Query fleets beyond max_broadcast_queries
    process in hash chunks (bounded driver memory)."""
    cand = _matmul_candidates(
        queries, points, k, query_id, point_id, vec, True,
        max_broadcast_queries=max_broadcast_queries,
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(point_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("score", "qdot")
    )


def hyperplane_signs(table: int, bit: int, dim: int) -> list:
    """Deterministic +-1 hyperplane components for LSH table/bit: parity of
    md5(f"{table}:{bit}|{i}") — reproducible in any engine (the oracle bakes
    the identical literals from the same derivation)."""
    import hashlib

    return [
        1 if int(hashlib.md5(f"{table}:{bit}|{i}".encode()).hexdigest()[:15], 16) & 1
        else -1
        for i in range(dim)
    ]


def hyperplane_buckets(
    vec: Column,
    dim: int,
    n_bits: int = 8,
    n_tables: int = 4,
    scale: int = 1000,
    first_bit: int = 0,
) -> Column:
    """Array of `n_tables` banded LSH bucket ids for a quantized vector.

    Bit b of table t = sign of the +-1-weighted integer sum of round(x*scale)
    components (signs from hyperplane_signs) — exact int64 arithmetic, so
    bucket assignment is bit-identical across engines (the oracle bakes the
    same sign literals into SQL).

    Evaluated as ONE Arrow-batched int64 matmul per pandas batch:
    (batch x dim) @ (dim x n_tables*n_bits) + sign + bit-pack. An earlier
    formulation as n_tables*n_bits chained aggregate(zip_with(...)) Catalyst
    expressions was measured 3 orders of magnitude slower (110 s vs <0.5 s
    for 20k rows x 12 tables x 12 bits at sf1): higher-order array functions
    are interpreted per element, not codegen'd — this is the documented
    exception where a vectorized pandas_udf beats the built-in path.
    Quantization uses _np_quantize (round half away from zero), exactly the
    convention of the Catalyst quantize expression and the oracle SQL.

    first_bit shifts the hyperplane index range to [first_bit,
    first_bit+n_bits) — used to derive SUFFIX bands for wide-bucket
    refinement that are independent of (but deterministic alongside) the
    primary bits."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    S = np.array(
        [
            hyperplane_signs(t, first_bit + b, dim)
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.int64,
    ).T  # (dim, n_tables*n_bits)
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @pandas_udf("array<int>")
    def _buckets(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(col.to_numpy()).astype(np.float64)
        q = _np_quantize(m, scale)
        sums = q @ S  # (batch, n_tables*n_bits)
        bits = (sums > 0).reshape(-1, n_tables, n_bits)
        out = (bits * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(out))

    return _buckets(vec)


def _probe_masks(extra_bits: int) -> list:
    """Non-zero XOR masks of the Hamming-<=2 probe neighborhood over
    `extra_bits` suffix bits: every 1-bit and 2-bit flip."""
    singles = [1 << j for j in range(extra_bits)]
    doubles = [
        (1 << i) | (1 << j)
        for i in range(extra_bits)
        for j in range(i + 1, extra_bits)
    ]
    return singles + doubles


# Adaptive split depth: a bucket of width n splits by
#   eb = clamp(bitlength((n-1) // cap) + _EB_MARGIN, extra_bits, extra_bits
#              + _EB_HEADROOM)
# suffix hyperplanes. bitlength((n-1)//cap) alone would make the expected
# slice ~cap; the +margin drives slices to ~cap/2^margin so the probed join
# volume per bucket is ~n * slice * |probe set| — near-linear in n instead
# of n^2/2^eb with a fixed depth. margin=2 (slice ~cap/4) is the measured
# recall/volume balance: at margin=4 the hot-cluster ANN recall fixture
# drops to 0.875 (<0.9) because Hamming-<=2 probing over the deeper suffix
# recovers a smaller fraction of the split neighborhood. The clamp floor keeps historic fixed-depth
# behavior for moderate overloads (every pre-round-4 test corpus lands on
# the floor); the ceiling bounds the SQL literal size and probe-mask count.
# bitlength is length(bin(d)) in BOTH engines (neither pads), so the depth
# rule is oracle-expressible.
_EB_MARGIN = 2
_EB_HEADROOM = 12


def _wide_buckets(
    assign: DataFrame, bucket_cap: int, extra_bits: int = 12
) -> DataFrame:
    """(table, bucket) keys whose population exceeds bucket_cap — the hot
    buckets a bucket self/equi-join must not process as-is — with the
    per-bucket adaptive split depth `__web`. The result is tiny by
    construction (<= rows/cap entries per table) and is broadcast by the
    callers."""
    from a5spark import cache

    # renamed key columns: `wide` derives from the same plan as `assign`, so
    # the downstream join must not share attribute names (self-join ambiguity)
    depth = F.least(
        F.lit(extra_bits + _EB_HEADROOM),
        F.greatest(
            F.lit(extra_bits),
            (
                F.length(
                    F.bin(((F.col("__n") - F.lit(1)) / F.lit(bucket_cap)).cast("long"))
                )
                + F.lit(_EB_MARGIN)
            ).cast("int"),
        ),
    )
    return cache.persist(
        assign.groupBy("__t", "__bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > bucket_cap)
        .select(
            F.col("__t").alias("__wt"),
            F.col("__bucket").alias("__wb"),
            F.lit(1).alias("__wide"),
            depth.alias("__web"),
        )
    )


def _extend_assign(
    assign: DataFrame,
    vectors: DataFrame,
    wide: DataFrame,
    id_col: str,
    vec: str,
    dim: int,
    n_bits: int,
    n_tables: int,
    scale: int,
    extra_bits: int,
    probe_flips: bool = False,
) -> DataFrame:
    """Extend bucket keys that fall in `wide` with a deterministic SECONDARY
    band — the structural guard that keeps bucket joins subquadratic when
    data piles into few primary buckets.

    assign: (id_col, __t, __bucket) primary assignments; vectors: (id_col,
    vec). Rows in a wide (table, bucket) get their key extended by
    `extra_bits` additional hyperplane bits (indices
    n_bits..n_bits+extra_bits-1 — the same md5-derived sign construction, so
    the refinement is bit-identical across engines and SQL-expressible). The
    suffix pass runs ONLY over rows that hit a wide bucket in some table, so
    the common path pays nothing. Rows that stay together after refinement
    agree on n_bits+extra_bits hyperplanes — an expected 2^-extra_bits slice
    of the wide bucket; only genuinely near-identical clusters (true
    near-dup output, inherently quadratic) remain wide.

    probe_flips=True (MULTI-PROBE, for the query side of an asymmetric
    bucket join): a row in a wide bucket emits its refined key AND every
    suffix variant within Hamming distance 2 (all 1-bit and 2-bit flips). A
    near neighbor whose suffix differs on at most two extra hyperplanes is
    then still probed, so recall inside a split bucket degrades to the
    3-bit-disagreement tail instead of collapsing with 2^-extra_bits
    (measured on the hot-cluster corpus: 0.57 single-key -> 0.84 1-flip ->
    >=0.9 2-flip; tests/test_round4.py). Join volume stays bounded: only
    wide-bucket QUERY rows fan out, by 1 + eb + eb(eb-1)/2 keys, and each
    probed slice is itself cap-bounded. Point-side assignments must keep
    probe_flips=False (single key) or the probe would square.

    Returns (id_col, __t, __bucket) with refined (long) keys (multi-probe
    rows may repeat per flip — downstream joins dedup pairs)."""
    joined, eb_needed = _refined_rows(
        assign, vectors, wide, id_col, vec, dim, n_bits, n_tables, scale,
        extra_bits,
    )
    return _refined_keys(joined, id_col, n_bits, eb_needed, probe_flips)


def _refined_rows(
    assign, vectors, wide, id_col, vec, dim, n_bits, n_tables, scale, extra_bits
):
    """Shared refinement relation (id, __t, __bucket, __wide, __web,
    __suffix) + the evaluated suffix width — the expensive part of
    _extend_assign, factored out so a caller needing BOTH the plain and the
    probed key sets of the SAME assignment evaluates it once."""
    # the deepest split any bucket demands decides how many suffix
    # hyperplanes to evaluate (one tiny job on the broadcast-sized `wide`);
    # per-bucket keys then mask their suffix down to that bucket's own depth
    eb_needed = wide.agg(F.max("__web")).first()[0] or extra_bits
    marked = assign.join(
        F.broadcast(wide),
        (F.col("__t") == F.col("__wt")) & (F.col("__bucket") == F.col("__wb")),
        "left",
    ).select(id_col, "__t", "__bucket", "__wide", "__web")
    need = marked.filter(F.col("__wide") == 1).select(id_col).distinct()
    suffixes = vectors.join(need, id_col).select(
        F.col(id_col),
        F.posexplode(
            hyperplane_buckets(
                F.col(vec), dim, eb_needed, n_tables, scale, first_bit=n_bits
            )
        ).alias("__t", "__suffix"),
    )
    return marked.join(suffixes, [id_col, "__t"], "left"), eb_needed


def _refined_keys(joined, id_col, n_bits, eb_needed, probe_flips):
    depth_limit = F.expr("shiftleft(CAST(1 AS BIGINT), __web)")
    masked = F.pmod(F.col("__suffix").cast("long"), depth_limit)
    if probe_flips:
        # explode AFTER wideness is known: only rows whose own (t, bucket)
        # is wide fan out into the flip variants — a row of a multi-table id
        # whose THIS-table bucket is narrow keeps exactly one key. Flip
        # masks touching bits at or above the bucket's own depth are
        # filtered out, so shallow buckets keep a small probe set.
        mask_arr = F.array(
            F.lit(0).cast("long"),
            *[F.lit(m).cast("long") for m in _probe_masks(eb_needed)],
        )
        variants = F.when(
            F.col("__wide") == 1,
            F.transform(
                F.filter(mask_arr, lambda m: m < depth_limit),
                lambda m: masked.bitwiseXOR(m),
            ),
        ).otherwise(F.array(F.lit(None).cast("long")))
        joined = joined.select(
            id_col, "__t", "__bucket", "__wide",
            F.explode(variants).alias("__sfx"),
        )
    else:
        joined = joined.select(
            id_col, "__t", "__bucket", "__wide", masked.alias("__sfx")
        )
    return (
        joined.withColumn(
            "__bucket",
            F.when(
                F.col("__wide") == 1,
                F.col("__bucket") + F.shiftleft(F.col("__sfx"), n_bits),
            ).otherwise(F.col("__bucket").cast("long")),
        )
        .select(id_col, "__t", "__bucket")
    )


def neardup_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_bits: int,
    n_tables: int,
    scale: int,
    id_col: str = "vec_id",
    vec: str = "embedding",
    bucket_cap: int | None = 100_000,
    extra_bits: int = 12,
    probe_flips: bool = True,
) -> DataFrame:
    """LSH candidate self-join: distinct (id_a < id_b) pairs colliding in any
    table's (possibly cap-refined) bucket. Exposed separately so candidate
    VOLUME is measurable — the subquadratic guarantee under bucket_cap is
    what makes the near-dup family usable at corpus scale.

    probe_flips=True (default) multi-probes the A side of the self-join when
    a bucket splits under the cap: id_a rows in a wide bucket emit their
    refined key plus every Hamming-<=2 suffix flip, so a pair whose suffixes
    disagree on at most two extra hyperplanes is still found (suffix
    agreement is symmetric under XOR, so one probed side recovers the pair
    in either id order). Volume inside a split bucket stays
    ~(1 + eb + eb(eb-1)/2) / 2^eb of the unsplit square — for eb=12 a 52x
    cut — while recall for genuinely-near pairs (cos >= 0.9, per-hyperplane
    agreement ~0.86) holds at P(ham<=2 of 12) ~ 0.76 per split table, vs
    2^-12-scale collapse without probing."""
    from a5spark import cache

    df = _spread(df)
    assign = df.select(
        F.col(id_col),
        F.posexplode(hyperplane_buckets(F.col(vec), dim, n_bits, n_tables, scale)).alias(
            "__t", "__bucket"
        ),
    )
    assign_a = assign
    if bucket_cap is not None:
        # persist: the width probe, the (conditional) refinement joins and
        # the two self-join sides all reuse ONE evaluation of the hyperplane
        # expression instead of recomputing it per reference
        assign = cache.persist(assign)
        assign_a = assign
        wide = _wide_buckets(assign, bucket_cap, extra_bits)
        if not wide.isEmpty():  # one tiny probe job; skips the whole
            # refinement layer when no bucket is hot (the common case).
            # The plain and probed key sets are built as two INDEPENDENT
            # _extend_assign passes on purpose: a "share one persisted
            # refinement relation, project both key sets" variant was
            # measured 1.7x SLOWER end-to-end at sf1 (22.6 -> 37+ s) — the
            # join sides stop being skinny cached relations and the
            # downstream self-join + scoring plan degrades, while the work
            # actually duplicated (one vectorized suffix matmul over the
            # wide-bucket rows + a broadcast of `wide`) costs well under a
            # second.
            assign = cache.persist(
                _extend_assign(
                    assign, df.select(id_col, vec), wide, id_col, vec,
                    dim, n_bits, n_tables, scale, extra_bits,
                )
            )
            if probe_flips:
                assign_a = _extend_assign(
                    assign_a, df.select(id_col, vec), wide, id_col, vec,
                    dim, n_bits, n_tables, scale, extra_bits,
                    probe_flips=True,
                )
            else:
                assign_a = assign
    b1 = assign_a.select(
        F.col(id_col).alias("id_a"), "__t", F.col("__bucket").alias("__b")
    )
    b2 = assign.select(
        F.col(id_col).alias("id_b"), "__t", F.col("__bucket").alias("__b")
    )
    return (
        b1.join(b2, ["__t", "__b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# broadcast-lookup pair scoring: vector tables up to this many rows collect
# to the driver and broadcast as an int64 matrix (dim x 8 B/vector — 100 MB
# at the cap for dim=64); larger tables keep the join+fold re-rank, whose
# shuffle-join shape is the corpus-scale design. Module-level so tests can
# force the fallback path.
_PAIR_BCAST_CAP = 200_000

_PAIR_SCORE_SCHEMA = "qdot long, na long, nb long, ok boolean"


def _broadcast_pair_scorer(
    vectors_a: DataFrame,
    id_a_col: str,
    vectors_b: DataFrame,
    id_b_col: str,
    pair_a: str,
    pair_b: str,
    vec: str,
    scale: int,
    cap: int | None = None,
):
    """Candidate-pair re-rank against driver-collected quantized matrices —
    the small-table fast path (optimization round 8).

    The join+fold re-rank (module header) pays two joins that exist only to
    attach vectors plus one interpreted dim-element aggregate(zip_with) per
    pair. The earlier pandas_udf einsum alternative shipped BOTH vector
    columns through Arrow per pair (~1 KB/row) and measured 4-17x slower —
    but shipping nothing works: when a vector table fits a bounded collect
    (LIMIT cap+1 probe, the same driver-memory envelope pattern as
    _matmul_candidates / pip_refine), the quantized matrix broadcasts once
    and each Arrow batch of bare (id_a, id_b) pairs scores with one
    vectorized gather + einsum. Measured 3x on the embed_neardup scoring
    step at sf0.1 (1.07 -> 0.35 s for 1.58M pairs, identical rows).

    Returns None when either side exceeds the cap (callers keep the join
    path). Otherwise returns fn(pairs) -> pairs + (qdot, __na, __nb)
    LongType columns, with pairs whose id is absent from its vector table
    DROPPED — identical to the inner joins this replaces. Exactness:
    _np_quantize is the documented convention of the Catalyst `quantize`
    expression, and numpy int64 arithmetic wraps mod 2^64 exactly like JVM
    long arithmetic, so scores are bit-identical to the join path."""
    import pandas as pd

    from a5spark import cache

    if cap is None:
        cap = _PAIR_BCAST_CAP

    def _collect(tbl, id_col):
        rows = tbl.select(id_col, vec).limit(cap + 1).collect()
        # over-cap AND empty both fall back to the join path (an empty
        # list would build a 1-D (0,) matrix; the join yields empty anyway),
        # and so does input the matrix cannot hold the way the joins do:
        # duplicate ids (the joins multiply pairs, get_indexer raises), a
        # NULL vector or ragged dimensions (the joins give those pairs a
        # NULL score)
        if len(rows) > cap or not rows:
            return None
        ids = pd.Index([r[0] for r in rows])
        if not ids.is_unique or any(r[1] is None for r in rows):
            return None
        if len({len(r[1]) for r in rows}) != 1:
            return None
        V = _np_quantize(
            np.array([list(r[1]) for r in rows], dtype=np.float64), scale
        )
        return ids, V, np.einsum("ij,ij->i", V, V)

    side_a = _collect(vectors_a, id_a_col)
    if side_a is None:
        return None
    same = vectors_a is vectors_b and id_a_col == id_b_col
    side_b = side_a if same else _collect(vectors_b, id_b_col)
    if side_b is None:
        return None

    spark = vectors_a.sparkSession
    bc = cache.register_broadcast(
        spark.sparkContext.broadcast((side_a, side_b))
    )

    @F.pandas_udf(_PAIR_SCORE_SCHEMA)
    def _score(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        (ids_a, Va, n2a), (ids_b, Vb, n2b) = bc.value
        ia = ids_a.get_indexer(a.to_numpy())
        ib = ids_b.get_indexer(b.to_numpy())
        ok = (ia >= 0) & (ib >= 0)
        iac = np.where(ok, ia, 0)
        ibc = np.where(ok, ib, 0)
        qdot = np.einsum("ij,ij->i", Va[iac], Vb[ibc])
        return pd.DataFrame(
            {"qdot": qdot, "na": n2a[iac], "nb": n2b[ibc], "ok": ok}
        )

    def apply(pairs: DataFrame) -> DataFrame:
        scored = pairs.withColumn("__ps", _score(F.col(pair_a), F.col(pair_b)))
        return (
            scored.filter(F.col("__ps.ok"))
            .withColumn("qdot", F.col("__ps.qdot"))
            .withColumn("__na", F.col("__ps.na"))
            .withColumn("__nb", F.col("__ps.nb"))
            .drop("__ps")
        )

    return apply


def cosine_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold_num: int = 4,
    threshold_den: int = 25,
    n_bits: int = 3,
    n_tables: int = 12,
    scale: int = 127,
    id_col: str = "vec_id",
    vec: str = "embedding",
    bucket_cap: int | None = 100_000,
    extra_bits: int = 12,
    probe_flips: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs: banded-LSH candidate self-join +
    integer-exact cosine threshold.

    The predicate cos(a,b) >= sqrt(threshold_num/threshold_den) evaluates as
    dot > 0 AND dot^2 * den >= num * |a|^2 * |b|^2 over int8-scale quantized
    vectors (scale=127 keeps every product within int64) — bit-identical
    across engines, so the full pipeline is oracle-expressible. Candidates
    come from the same banded hyperplane LSH as lsh_bucket_topk (the result
    is LSH-candidates intersect threshold — deterministic; recall follows
    the band/table tuning).

    bucket_cap bounds the self-join: primary buckets wider than the cap are
    split by `extra_bits` secondary hyperplanes (_wide_buckets +
    _extend_assign), so
    per-bucket join volume stays <= max(cap, cluster)^2 instead of the
    near-quadratic blowup a few hot primary buckets would otherwise cause at
    corpus scale. Pass bucket_cap=None to disable (exact historic
    behavior). probe_flips (default on) Hamming-<=2-probes the A side of the
    split-bucket self-join so cap-induced recall loss stays on the far-tail
    pairs only — see neardup_candidate_pairs."""
    from a5spark import cache

    pairs = neardup_candidate_pairs(
        df, dim, n_bits, n_tables, scale, id_col, vec, bucket_cap, extra_bits,
        probe_flips,
    )
    scorer = _broadcast_pair_scorer(
        df, id_col, df, id_col, "id_a", "id_b", vec, scale
    )
    if scorer is not None:
        scored = scorer(pairs)
        keep = (F.col("qdot") > 0) & (
            F.col("qdot") * F.col("qdot") * threshold_den
            >= F.lit(threshold_num) * F.col("__na") * F.col("__nb")
        )
        return scored.filter(keep).select("id_a", "id_b", "qdot")
    # over-cap fallback: join+fold re-rank.
    # persisted: the per-element transform(round) quantization would
    # otherwise be re-evaluated per candidate PAIR row on each join side
    # (measured ~25 s for 4M pairs at sf1) instead of once per vector
    qv = cache.persist(
        df.select(
            F.col(id_col),
            quantize(F.col(vec), scale).alias("__v"),
        ).withColumn(
            "__n2",
            F.aggregate(
                F.zip_with(F.col("__v"), F.col("__v"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    a_side = qv.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), F.col("__n2").alias("__na")
    )
    b_side = qv.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), F.col("__n2").alias("__nb")
    )
    scored = (
        pairs.join(a_side, "id_a")
        .join(b_side, "id_b")
        .withColumn(
            "qdot",
            F.aggregate(
                F.zip_with(F.col("__va"), F.col("__vb"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    keep = (F.col("qdot") > 0) & (
        F.col("qdot") * F.col("qdot") * threshold_den
        >= F.lit(threshold_num) * F.col("__na") * F.col("__nb")
    )
    return scored.filter(keep).select("id_a", "id_b", "qdot")


def lsh_bucket_topk(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    dim: int,
    n_bits: int = 8,
    n_tables: int = 4,
    scale: int = 1000,
    query_id: str = "q_id",
    point_id: str = "vec_id",
    vec: str = "embedding",
    bucket_cap: int | None = 100_000,
    extra_bits: int = 12,
) -> DataFrame:
    """Banded multi-table hyperplane-LSH ANN top-k with exact quantized
    re-rank (the 100 TB scale path):

      1. each side computes `n_tables` bucket ids (posexplode -> one join key
         (table, bucket) — per-table buckets keep the join NOT 2^n_bits-way:
         collision volume is sum over tables of matched-bucket products);
      2. candidate pairs dedup across tables;
      3. exact int64-quantized dot-product re-rank, ties by point id — the
         same scoring as quantized_topk, so recall is measurable against it
         and the whole pipeline is oracle-expressible.

    Point-side primary buckets wider than `bucket_cap` are split by
    `extra_bits` secondary hyperplanes; queries landing in a wide bucket
    extend their key with their OWN suffix AND its Hamming-<=2 flips
    (multi-probe — see _extend_assign), so both sides agree, the per-bucket
    join volume stays bounded, and recall inside a split bucket follows the
    3-bit-disagreement tail instead of collapsing (measured >=0.9 vs 0.57
    single-probe on the hot-cluster corpus). bucket_cap=None disables.

    Returns (query_id, rank, point_id, qdot)."""
    # the bucket join carries only ids (the explode duplicates rows
    # n_tables-fold — shipping vectors through it would multiply shuffle
    # bytes); vectors join back onto the deduped pairs, quantized once per
    # input row
    points = _spread(points)
    qb = queries.select(
        F.col(query_id),
        F.posexplode(hyperplane_buckets(F.col(vec), dim, n_bits, n_tables, scale)).alias(
            "__t", "__bucket"
        ),
    )
    pb = points.select(
        F.col(point_id),
        F.posexplode(hyperplane_buckets(F.col(vec), dim, n_bits, n_tables, scale)).alias(
            "__t", "__bucket"
        ),
    )
    if bucket_cap is not None:
        from a5spark import cache

        # hot buckets are determined by the POINT side (that's where volume
        # lives); BOTH sides then extend keys in those buckets with their own
        # suffix so the equi-join stays aligned. The point assignment is
        # persisted so the width probe and the bucket join share one
        # evaluation; the probe also skips the refinement joins entirely
        # when no bucket is hot (the common case).
        pb = cache.persist(pb)
        wide = _wide_buckets(pb, bucket_cap, extra_bits)
        if not wide.isEmpty():
            pb = _extend_assign(
                pb, points.select(point_id, vec), wide, point_id, vec,
                dim, n_bits, n_tables, scale, extra_bits,
            )
            qb = _extend_assign(
                qb, queries.select(query_id, vec), wide, query_id, vec,
                dim, n_bits, n_tables, scale, extra_bits, probe_flips=True,
            )
    pairs = (
        qb.join(pb, ["__t", "__bucket"])
        .select(query_id, point_id)
        .dropDuplicates([query_id, point_id])
    )
    from a5spark import cache as _cache

    scorer = _broadcast_pair_scorer(
        queries, query_id, points, point_id, query_id, point_id, vec, scale
    )
    if scorer is not None:
        cand = scorer(pairs).select(query_id, point_id, "qdot")
    else:
        qv = queries.select(
            F.col(query_id), quantize(F.col(vec), scale).alias("__qv")
        )
        # persisted so the per-element quantization runs once per point, not
        # once per candidate pair (the broadcast materializes qv already)
        pv = _cache.persist(
            points.select(F.col(point_id), quantize(F.col(vec), scale).alias("__pv"))
        )
        cand = (
            pairs.join(F.broadcast(qv), query_id)  # queries are the small side
            .join(pv, point_id)  # AQE picks broadcast vs shuffle for points
            .withColumn(
                "qdot",
                F.aggregate(
                    F.zip_with(F.col("__qv"), F.col("__pv"), lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
            )
        )
        # project the vectors away BEFORE the ranking window: row_number
        # shuffles every candidate row, and carrying two dim-length arrays
        # through that exchange is ~1 KB/row of dead weight (4 GB at sf1)
        cand = cand.select(query_id, point_id, "qdot")
    w = Window.partitionBy(query_id).orderBy(F.desc("qdot"), F.asc(point_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    dim: int,
    n_lists: int = 32,
    n_probe: int = 4,
    scale: int = 1000,
    query_id: str = "q_id",
    point_id: str = "vec_id",
    vec: str = "embedding",
    centroids: "list | None" = None,
    lloyd_iters: int = 1,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the coarse-quantizer scale path.

    1. Coarse centroids: the `n_lists` points with the smallest
       md5-derived hash of their id (a deterministic sample — collected via
       a map-side partial top-n, so the driver holds n_lists rows),
       refined by `lloyd_iters` deterministic k-means (Lloyd) steps: assign
       every point to its best centroid, replace each centroid by the
       integer floor-mean of its members (exact — floor division is
       expressed as (s - ((s % c) + c) % c) / c, identical in Spark and
       DuckDB, so training stays oracle-expressible). list_id is the rank
       in the sample order. Production replaces this with externally
       trained centroids through the `centroids` parameter
       ([(id, vector), ...]) and lloyd_iters=0; the deterministic default
       keeps the whole pipeline SQL-checkable with no side channel.
    2. Every point is assigned to its best list by exact int64 quantized
       dot product (argmax, ties to the smallest list_id) — one Arrow
       matmul per batch against the broadcast centroid matrix; map-only,
       no shuffle.
    3. Each query probes its `n_probe` best lists (same scoring) and
       candidates come from ONE equi-join on list_id — a point lives in
       exactly one list, so candidates need no dedup (unlike the LSH
       multi-table union).
    4. Exact quantized re-rank, ties by point id — the same scoring as
       quantized_topk, so recall is measurable against it.

    Candidate volume: ~|Q| * n_probe * n/n_lists. At cluster scale the
    list_id join shuffles each side once; a skewed (hot) list is an AQE
    skew-join case, and n_lists should grow ~sqrt(n) like any IVF index.
    Returns (query_id, rank, point_id, qdot)."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = points.sparkSession
    if centroids is None:
        hk = F.conv(
            F.substring(F.md5(F.col(point_id).cast("string")), 1, 15), 16, 10
        ).cast("long")
        crows = (
            points.select(F.col(point_id), F.col(vec), hk.alias("__hk"))
            .orderBy("__hk", point_id)
            .limit(n_lists)
            .collect()
        )
        cvecs = [r[vec] for r in crows]
    else:
        cvecs = [v for _, v in centroids[:n_lists]]
    if not cvecs:
        raise ValueError("ivf_topk: no centroids (empty points?)")
    c_mat = _np_quantize(np.array(cvecs, dtype=np.float64), scale)
    # spread: a single-split points source would otherwise pin Lloyd,
    # assignment, the bucket join AND the whole scoring pipeline (broadcast
    # joins keep the probe side's partitioning) to one task — measured 36 s
    # of the sf1 query in ONE task before this
    points = _spread(points)
    if lloyd_iters:
        qpts = points.select(
            F.col(point_id), quantize(F.col(vec), scale).alias("__qv")
        )
        for _ in range(lloyd_iters):
            c_mat = _lloyd_step(qpts, c_mat, point_id)
    from a5spark import cache as _cache_mod

    # released by the caller's cache scope once the result materializes —
    # same lifecycle as the persisted frames below
    bc = _cache_mod.register_broadcast(spark.sparkContext.broadcast(c_mat))

    def _lister(id_name: str, top_n: int, id_type):
        # the id type follows the caller's column (string image ids are as
        # valid as numeric vec ids — nothing in IVF needs numeric keys)
        schema = StructType(
            [StructField(id_name, id_type), StructField("__list", IntegerType())]
        )

        def fn(batches):
            cm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf[id_name].to_numpy()
                m = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
                q = _np_quantize(m, scale)
                s = q @ cm.T  # (batch, n_lists) exact int64
                # stable argsort on -score == ties to the smallest list_id,
                # matching the oracle's ORDER BY score DESC, list_id
                top = np.argsort(-s, axis=1, kind="stable")[:, :top_n]
                yield pd.DataFrame(
                    {
                        id_name: np.repeat(ids, top.shape[1]),
                        "__list": top.reshape(-1).astype(np.int32),
                    }
                )

        return fn, schema

    fn_a, sch_a = _lister(point_id, 1, points.schema[point_id].dataType)
    passign = points.select(F.col(point_id), F.col(vec).alias("__v")).mapInPandas(
        fn_a, sch_a
    )
    fn_q, sch_q = _lister(query_id, n_probe, queries.schema[query_id].dataType)
    qprobe = queries.select(F.col(query_id), F.col(vec).alias("__v")).mapInPandas(
        fn_q, sch_q
    )
    from a5spark import cache as _cache

    pairs = qprobe.join(passign, "__list").select(query_id, point_id)
    scorer = _broadcast_pair_scorer(
        queries, query_id, points, point_id, query_id, point_id, vec, scale
    )
    if scorer is not None:
        cand = scorer(pairs).select(query_id, point_id, "qdot")
    else:
        qv = queries.select(
            F.col(query_id), quantize(F.col(vec), scale).alias("__qv")
        )
        # persisted: quantization once per point, not once per candidate pair
        pv = _cache.persist(
            points.select(F.col(point_id), quantize(F.col(vec), scale).alias("__pv"))
        )
        cand = (
            pairs.join(F.broadcast(qv), query_id)
            .join(pv, point_id)
            .withColumn(
                "qdot",
                F.aggregate(
                    F.zip_with(F.col("__qv"), F.col("__pv"), lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ),
            )
        )
        # vectors projected away before the ranking window (see lsh_bucket_topk)
        cand = cand.select(query_id, point_id, "qdot")
    w = Window.partitionBy(query_id).orderBy(F.desc("qdot"), F.asc(point_id))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", point_id, "qdot")
    )


def _lloyd_step(qpts: DataFrame, c_mat, point_id: str):
    """One deterministic Lloyd iteration over quantized vectors: assign each
    point to its best centroid (exact int64 argmax, ties to the smallest
    list), then replace every centroid with the element-wise integer
    floor-mean of its members. Assignment AND the per-list component sums
    are fused into one Arrow pass (each batch emits n_lists x dim partial
    (sum, count) rows — no per-point explode, no join back); the shuffle is
    the tiny partial-sum relation and the n_lists x dim result collects to
    the driver. Empty lists keep their previous centroid. The floor-mean
    uses (s - ((s % c) + c) % c) / c — remainder-corrected division that
    both Spark and DuckDB evaluate identically for negative sums, keeping
    the refined centroids oracle-expressible."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = qpts.sparkSession
    bc = spark.sparkContext.broadcast(c_mat)
    schema = StructType(
        [
            StructField("__list", IntegerType()),
            StructField("__pos", IntegerType()),
            StructField("__s", LongType()),
            StructField("__c", LongType()),
        ]
    )

    def partials(batches):
        cm = bc.value
        n_lists, dim = cm.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["__qv"].to_numpy()).astype(np.int64)
            best = np.argmax(q @ cm.T, axis=1)  # first max == smallest list
            sums = np.zeros((n_lists, dim), dtype=np.int64)
            np.add.at(sums, best, q)
            cnt = np.bincount(best, minlength=n_lists).astype(np.int64)
            nz = np.nonzero(cnt)[0]
            if len(nz) == 0:
                continue
            yield pd.DataFrame(
                {
                    "__list": np.repeat(nz, dim).astype(np.int32),
                    "__pos": np.tile(np.arange(dim), len(nz)).astype(np.int32),
                    "__s": sums[nz].reshape(-1),
                    "__c": np.repeat(cnt[nz], dim),
                }
            )

    rows = (
        qpts.mapInPandas(partials, schema)
        .groupBy("__list", "__pos")
        .agg(F.sum("__s").alias("__s"), F.sum("__c").alias("__c"))
        .collect()
    )
    # the collect above is the only consumer of this iteration's broadcast —
    # destroy it now so repeated Lloyd iterations don't accumulate blocks
    bc.destroy()
    new = c_mat.copy()
    for r in rows:
        s, c = int(r["__s"]), int(r["__c"])
        rem = ((s % c) + c) % c
        new[r["__list"], r["__pos"]] = (s - rem) // c
    return new
