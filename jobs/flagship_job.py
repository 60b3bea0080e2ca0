"""Flagship pipeline as a spark-submit job (north-rule deployment shape).

    python tools/make_zip.py                       # build geoio_jl_spark.zip
    spark-submit --py-files geoio_jl_spark.zip \
        jobs/flagship_job.py \
        --pages bench_data/webpages_2m.parquet \
        --polygons-sf /root/testdata/sf0.001 \
        --output /tmp/flagship_out \
        --checkpoints /tmp/flagship_ckpt --job-id run1

``geotag_points`` and ``polygon_counts`` are the pipeline (web page →
geotag → cell → point-in-polygon → per-polygon aggregate) and its only
definition: ``tools/scaling_probe.pipeline`` and the flagship tests call
the same two functions.

On a cluster the same command line works with ``--master yarn``/k8s and
N executors; everything below is master-agnostic.  Stages checkpoint via
plans.checkpoint, so re-submitting with the same --job-id resumes after
the last committed stage.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def geotag_points(pages: DataFrame) -> DataFrame:
    """Pages (url, html) → (doc_id, lon_i, lat_i, text_len) through the
    fused ``extract_page`` kernel, so html crosses to Python once.  A page
    without a geo.position tag keeps its row, with null coordinates."""
    from geoio_jl_spark.functions.textkernels import extract_page
    return pages.select("url", extract_page("html").alias("p")).select(
        F.xxhash64("url").alias("doc_id"),
        ((F.col("p.lon") + 180.0) * 100).cast("bigint").alias("lon_i"),
        ((F.col("p.lat") + 85.0) * 100).cast("bigint").alias("lat_i"),
        F.length("p.text").alias("text_len"))


def polygon_counts(points: DataFrame, polygons: DataFrame,
                   res: int = 3) -> DataFrame:
    """Points → (poly_id, n, tc): the broadcast cell join of
    ``point_in_polygon_join``, refined by the int64 triangle sign test over
    the vertex columns of ``queries.nation_triangles``.  A point with null
    coordinates has no cell and matches no polygon."""
    from geoio_jl_spark.operators.sjoin import point_in_polygon_join
    from geoio_jl_spark.queries import _sign_test_refine
    pairs = point_in_polygon_join(points, polygons, res=res, wkb_col=None,
                                  refine=_sign_test_refine)
    return pairs.groupBy("poly_id").agg(
        F.count("*").alias("n"), F.sum("text_len").alias("tc"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--polygons-sf", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoints", required=True)
    ap.add_argument("--job-id", default="flagship")
    ap.add_argument("--res", type=int, default=3)
    ap.add_argument("--fail-after", default=None,
                    help="crash injection for the resume test: abort "
                         "(exit 7) right after this stage commits")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("geoio-flagship").getOrCreate()
    # --py-files puts the zip on workers; make sure the driver sees it too
    from geoio_jl_spark.plans.checkpoint import CheckpointedJob
    from geoio_jl_spark.queries import _triangles

    job = CheckpointedJob(spark, args.checkpoints, args.job_id)
    points = job.stage(
        "extract", lambda: geotag_points(spark.read.parquet(args.pages)))
    if args.fail_after == "extract":
        print("CRASH-INJECT after extract", file=sys.stderr)
        spark.stop()
        sys.exit(7)

    counts = job.stage("pip_counts", lambda: polygon_counts(
        points, _triangles(spark, args.polygons_sf), args.res))
    counts.write.mode("overwrite").parquet(args.output)
    summary = {
        "polygons_matched": counts.count(),
        "stages": [e["stage"] for e in job.manifest()],
        "rows_per_stage": {e["stage"]: e["rows"] for e in job.manifest()},
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
