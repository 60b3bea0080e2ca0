"""Guards for the flagship pipeline (jobs/flagship_job.py::geotag_points +
polygon_counts, run by tools/scaling_probe.py::pipeline) — the job every
bench/scaling number is built on.  Pins the executed-plan properties the
100-TB story depends on, so a future edit cannot silently regress them:

* exactly ONE Arrow/Python crossing (the fused extract_page kernel —
  a second crossing doubles the dominant cost),
* the tiled polygon side is broadcast, unsalted (no shuffle of the doc
  stream for the join),
* no cartesian product, no global (unpartitioned) window anywhere;

and checks the per-polygon counts against a pure-Python sign test.
"""

from pyspark.sql import functions as F

from geoio_jl_spark.datagen import triangle_vertices, webpages
from jobs.flagship_job import geotag_points
from tools.scaling_probe import pipeline


def _expected_counts(points):
    """Pure-Python oracle: integer sign test of every collected point
    against each of the 25 nation triangles → {poly_id: (n, tc)}."""
    tris = {pid: triangle_vertices(pid) for pid in range(25)}
    want = {}
    for r in points.collect():
        x, y = r["lon_i"], r["lat_i"]
        for pid, (a, b, c) in tris.items():
            s1 = (b[0] - a[0]) * (y - a[1]) - (b[1] - a[1]) * (x - a[0])
            s2 = (c[0] - b[0]) * (y - b[1]) - (c[1] - b[1]) * (x - b[0])
            s3 = (a[0] - c[0]) * (y - c[1]) - (a[1] - c[1]) * (x - c[0])
            if s1 >= 0 and s2 >= 0 and s3 >= 0:
                n, tc = want.get(pid, (0, 0))
                want[pid] = (n + 1, tc + r["text_len"])
    return want


def test_flagship_plan_shape(spark, tmp_path):
    path = str(tmp_path / "pages.parquet")
    webpages(spark, 2000, skew=True, partitions=4).write.parquet(path)
    df = pipeline(spark, path)
    df.collect()                               # force AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan.toString() prints BOTH the final and the initial
    # plan after execution; only the final section is what ran.
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan       # no row-at-a-time Python
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "salt" not in plan


def test_flagship_counts_match_sign_test_oracle(spark, tmp_path):
    # pages whose id ends in 0 or 5 lose their geo.position tag: the
    # pipeline must run (no ANSI cast error) and leave them out of the counts
    path = str(tmp_path / "pages2.parquet")
    untagged = F.regexp_replace(F.col("html").cast("string"),
                                "geo.position", "description").cast("binary")
    webpages(spark, 3000, skew=True, partitions=4).withColumn(
        "html", F.when(F.col("url").rlike("[05]$"), untagged)
        .otherwise(F.col("html"))).write.parquet(path)
    points = geotag_points(spark.read.parquet(path))
    tagged = F.col("lon_i").isNotNull() & F.col("lat_i").isNotNull()
    assert points.filter(~tagged).count() == 600
    got = {r["poly_id"]: (r["n"], r["tc"])
           for r in pipeline(spark, path).collect()}
    assert got
    assert got == _expected_counts(points.filter(tagged))
