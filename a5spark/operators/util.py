"""Shared operator utilities."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Driver-memory caps, in rows, for the data-sized collects below: query
# fleets and vector tables (broadcast as dim x 8 B matrices), the
# (query, cap cover cell) relation of a radius or kNN join (its fleet is
# capped at MAX_COLLECT_VECTORS / max_cells queries per core,
# operators/knn.py), and polygon layers (broadcast as rings JSON). Read at
# call time, so tests can lower them.
MAX_COLLECT_VECTORS = 200_000
MAX_COLLECT_POLYGONS = 100_000


def spread(df: DataFrame) -> DataFrame:
    """Repartition ahead of a fan-out / compute-heavy transform when the
    input has fewer partitions than the cluster has slots. A small-file
    source (one parquet footer) otherwise pins the whole downstream chain —
    explode + hash + aggregate, or a mapInPandas scorer, or a broadcast-join
    pipeline — to ONE task (measured 30-36 s single-threaded vs ~2-3 s
    spread at sf1 in the minhash and IVF paths; broadcast joins preserve
    the probe side's partitioning, so a single-partition lineage survives
    arbitrarily far). The shuffle moved is the COMPACT pre-fan-out
    relation, never the expanded rows; at cluster scale real inputs arrive
    in many splits and this is a no-op."""
    if df.isStreaming:  # .rdd is undefined for streaming plans; streams
        return df  # get their parallelism from the source/shuffle config
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def bounded_collect(df: DataFrame, cols: list, cap: int):
    """Collect `cols` of `df` to the driver as a pandas frame (Arrow, not
    Row objects), or return None when `df` has more than `cap` rows.

    This is the one place the driver pulls a data-sized frame, the small
    side an operator broadcasts. The bound is probed by the collect itself
    (LIMIT cap+1): an under-cap frame costs exactly one Spark job, the
    collect it needed anyway, and an over-cap one holds at most cap+1 rows
    before it is dropped. An empty frame comes back empty, not None.
    Callers that must handle any size use bounded_chunks; callers with a
    distributed fallback take None as the signal to use it."""
    pdf = df.select(*cols).limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def bounded_chunks(df: DataFrame, cols: list, key: str, cap: int):
    """Yield `df` as (predicate, pandas frame) parts of about `cap` rows.

    Under the cap this is one (None, frame) from bounded_collect's single
    job. Over it, one count sizes n = ceil(rows / cap) hash chunks
    pmod(xxhash64(key), n); each part is (predicate, the rows of `df` that
    match it), collected only when the caller asks for the next part, so
    the driver holds one chunk at a time and a 10^7-row side degrades to
    more passes instead of a driver OOM. The split is one level: pmod of
    one hash is correlated across levels, so re-splitting a chunk would
    never separate it, and hash variance may push a chunk slightly over
    the cap (the cap is a memory envelope, not a quota). Chunks are
    disjoint and cover `df`; the predicate applies to any frame with a
    `key` column, so the caller routes the other side of a join with it."""
    pdf = bounded_collect(df, cols, cap)
    if pdf is not None:
        yield None, pdf
        return
    n_chunks = -(-df.count() // cap)
    chunk = F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks))
    for c in range(n_chunks):
        yield chunk == c, df.filter(chunk == c).select(*cols).toPandas()
