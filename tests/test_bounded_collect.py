"""operators.util.bounded_collect / bounded_chunks: the one bounded driver
collect of a data-sized frame."""

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from a5spark.operators import util

CAP = 50


@pytest.fixture(scope="module")
def spark():
    from a5spark.session import get_spark

    s = get_spark("a5spark-test-bounded-collect", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _frame(spark, n):
    return spark.range(0, n, numPartitions=3).withColumn("v", F.col("id") * 2)


def test_at_cap_is_one_frame_from_one_job(spark):
    df = _frame(spark, CAP)
    sc = spark.sparkContext
    sc.setJobGroup("bounded-at-cap", "bounded_chunks at the cap")
    try:
        parts = list(util.bounded_chunks(df, ["id", "v"], "id", CAP))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bounded-at-cap")) == 1
    assert len(parts) == 1
    pred, pdf = parts[0]
    assert pred is None
    assert list(pdf.columns) == ["id", "v"]
    assert sorted(pdf["id"]) == list(range(CAP))


def test_over_cap_chunks_are_disjoint_and_cover_the_frame(spark):
    df = _frame(spark, CAP + 1)
    assert util.bounded_collect(df, ["id", "v"], CAP) is None
    parts = list(util.bounded_chunks(df, ["id", "v"], "id", CAP))
    assert len(parts) == 2
    ids = [set(pdf["id"]) for _, pdf in parts]
    for a, b in combinations(ids, 2):
        assert not a & b
    assert sum(map(len, ids)) == CAP + 1
    assert set().union(*ids) == set(range(CAP + 1))
    for pred, pdf in parts:  # the predicate selects exactly its chunk
        assert {r.id for r in df.filter(pred).collect()} == set(pdf["id"])
        assert (pdf["v"] == pdf["id"] * 2).all()


def test_empty_frame_is_empty_not_none(spark):
    pdf = util.bounded_collect(_frame(spark, 0), ["id", "v"], CAP)
    assert pdf is not None
    assert len(pdf) == 0
    assert list(pdf.columns) == ["id", "v"]
