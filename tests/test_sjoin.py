"""Spatial join tests: WKB refine path vs arithmetic refine, salting
equivalence, bbox join vs naive theta join, no eager job at plan build."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark import dialect as D
from geoio_jl_spark.datagen import geo_polygons_pdf, triangle_vertices
from geoio_jl_spark.operators import sjoin as SJ


@pytest.fixture(scope="module")
def points(spark):
    # integer-lattice points via the shared formulas
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.expr(D.LON_I.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I.format(id="id")).alias("lat_i"),
    ).cache()


@pytest.fixture(scope="module")
def triangles_wkb(spark):
    pdf = geo_polygons_pdf(25)
    pdf = pdf[pdf["kind"] == "triangle"].copy()
    bounds = []
    for pid in pdf["poly_id"]:
        a, b, c = triangle_vertices(int(pid))
        xs = [a[0], b[0], c[0]]
        ys = [a[1], b[1], c[1]]
        bounds.append((min(xs), min(ys), max(xs), max(ys)))
    pdf[["minx", "miny", "maxx", "maxy"]] = pd.DataFrame(bounds, index=pdf.index)
    return spark.createDataFrame(pdf).cache()


def _expected_pairs(spark, points, triangles_wkb):
    """Naive cross join + integer sign test (ground truth)."""
    tri_rows = {int(r["poly_id"]): triangle_vertices(int(r["poly_id"]))
                for r in triangles_wkb.select("poly_id").collect()}
    pts = points.collect()
    out = set()
    for r in pts:
        x, y = r["lon_i"], r["lat_i"]
        for pid, (a, b, c) in tri_rows.items():
            s1 = (b[0] - a[0]) * (y - a[1]) - (b[1] - a[1]) * (x - a[0])
            s2 = (c[0] - b[0]) * (y - b[1]) - (c[1] - b[1]) * (x - b[0])
            s3 = (a[0] - c[0]) * (y - c[1]) - (a[1] - c[1]) * (x - c[0])
            if s1 >= 0 and s2 >= 0 and s3 >= 0:
                out.add((r["doc_id"], pid))
    return out


def test_wkb_refine_matches_ground_truth(spark, points, triangles_wkb):
    got = SJ.point_in_polygon_join(
        points, triangles_wkb, res=3, wkb_col="geometry"
    ).select("doc_id", "poly_id").collect()
    got_set = {(r["doc_id"], r["poly_id"]) for r in got}
    assert got_set == _expected_pairs(spark, points, triangles_wkb)


def test_point_in_polygon_join_launches_no_job_before_an_action(
        spark, points, triangles_wkb):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("pip-plan-build", "point_in_polygon_join plan build")
    try:
        pairs = SJ.point_in_polygon_join(
            points, triangles_wkb, res=3, wkb_col="geometry")
        assert tracker.getJobIdsForGroup("pip-plan-build") == []
        pairs.count()  # the tracker does see this group's jobs
        assert tracker.getJobIdsForGroup("pip-plan-build") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_salted_join_equals_unsalted(spark, points, triangles_wkb):
    plain = SJ.point_in_polygon_join(
        points, triangles_wkb, res=3, wkb_col="geometry"
    ).select("doc_id", "poly_id").collect()
    salted = SJ.salted_point_in_polygon_join(
        points, triangles_wkb, res=3, point_id="doc_id", wkb_col="geometry",
        hot_threshold=10,  # force salting of many cells
    ).select("doc_id", "poly_id").collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_bbox_join_matches_naive(spark, points, triangles_wkb):
    boxes = triangles_wkb.select("poly_id", "minx", "miny", "maxx", "maxy")
    got = SJ.bbox_range_join(points, boxes, res=3).select("doc_id", "poly_id")
    naive = points.join(boxes).filter(
        (F.col("lon_i") >= F.col("minx")) & (F.col("lon_i") <= F.col("maxx"))
        & (F.col("lat_i") >= F.col("miny")) & (F.col("lat_i") <= F.col("maxy"))
    ).select("doc_id", "poly_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_polygon_with_hole_via_wkb_path(spark):
    # points inside the hole must NOT match (kernel semantics end-to-end)
    pdf = geo_polygons_pdf(25)
    holed = spark.createDataFrame(pdf[pdf["kind"] == "holed"]).select(
        "poly_id", "geometry",
        F.lit(0).cast("bigint").alias("minx"), F.lit(0).cast("bigint").alias("miny"),
        F.lit(4000).cast("bigint").alias("maxx"), F.lit(4000).cast("bigint").alias("maxy"),
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "lon_i": [500, 2000], "lat_i": [500, 2000]})
    )
    got = SJ.point_in_polygon_join(
        pts, holed, res=3, wkb_col="geometry"
    ).select("doc_id").collect()
    assert [r["doc_id"] for r in got] == [1]  # (2000,2000) is inside the hole


def test_hot_cell_stats(spark):
    from geoio_jl_spark.operators.cells import assign_cells
    skewed = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.expr(D.LON_I_SKEW.format(id="id")).alias("lon_i"),
        F.expr(D.LAT_I_SKEW.format(id="id")).alias("lat_i"),
    )
    stats = SJ.hot_cell_stats(assign_cells(skewed, res=3), threshold=50).collect()
    assert len(stats) >= 3  # the three planted hot cells
    assert all(r["n_salt"] >= 2 for r in stats)
