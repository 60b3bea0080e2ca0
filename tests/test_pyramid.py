"""Tile-pyramid rollup (operators/pyramid.py)."""

import pytest

from pyspark.sql import functions as F

from geoio_jl_spark.operators.pyramid import tile_pyramid


def test_hierarchical_equals_direct(spark):
    """Rollup through levels == aggregating raw points at each zoom."""
    pts = spark.range(2000).select(
        ((F.col("id") * 48271) % 3600).alias("x"),
        ((F.col("id") * 69621) % 1700).alias("y"))
    out = tile_pyramid(pts, "x", "y", max_zoom=4, base_tile=32)
    got = {(r["zoom"], r["tx"], r["ty"]): r["n"] for r in out.collect()}
    for z in range(4, -1, -1):
        ts = 32 * 2 ** (4 - z)
        direct = (pts.groupBy(F.floor(F.col("x") / ts).alias("tx"),
                              F.floor(F.col("y") / ts).alias("ty"))
                  .count().collect())
        for r in direct:
            assert got[(z, r["tx"], r["ty"])] == r["count"]
        assert sum(n for (zz, _, _), n in got.items() if zz == z) == 2000


def test_single_corpus_scan(spark):
    """One lazy plan: the raw point table appears once in the executed
    plan (every zoom is rolled up from the one base-tile aggregate, not
    a union branch that re-scans the source per level), nothing is
    checkpointed, and building the plan launches no Spark job."""
    pts = spark.range(100).select(F.col("id").alias("x"),
                                  F.col("id").alias("y"))
    sc = spark.sparkContext
    sc.setJobGroup("pyramid_build", "tile_pyramid plan build")
    try:
        df = tile_pyramid(pts, "x", "y", max_zoom=3)
        built = sc.statusTracker().getJobIdsForGroup("pyramid_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert built == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1
    assert "Scan ExistingRDD" not in plan


def test_zoom_validation(spark):
    pts = spark.range(1).select(F.col("id").alias("x"),
                                F.col("id").alias("y"))
    with pytest.raises(ValueError, match="zoom range"):
        tile_pyramid(pts, "x", "y", max_zoom=2, min_zoom=3)
